"""Validate raw XML instance documents against a compiled XSD.

The reference validates XML trees directly (``XMLSchema(...).validate(
'doc.xml')``, schemas.py:1583; the testfiles factory asserts exact error
counts per instance, testing/_factory.py:11-42).  The engine's analogue for
the flat-table subset: read the instance with Spark's native XML source,
flatten each row element into its table (nested single-occurrence children
walk the column paths of the table's ``CompiledXsd.row_types``), run the
ordinary distributed validation per table plus the schema's cross-table
keyrefs, and add the STRUCTURAL checks only a tree sees:

* character data inside element-only content (``cvc-complex-type.2.3``;
  the reference's children-validation error on text in a model group) —
  Spark XML surfaces stray text as the ``_VALUE`` field;
* undeclared attributes / elements (``cvc-complex-type.3.2.2``) — schema
  INFERENCE lists every field present in the data, so anything outside the
  compiled columns, their prefixes, and the row type's ``skipped`` paths
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
The compiled plan of each of the schema's tables, its cross-table keyrefs
and the model-error collapse are built on the first document and kept in
``CompiledXsd.programs`` for every later one.

One document is ONE partition.  Spark's XML source reads a file as a
single split however small ``spark.sql.files.maxPartitionBytes`` is, and
``_Document.container`` says so to the planner with ``coalesce(1)``: no
data moves and no parallelism is lost, but the read's partitioning becomes
``SinglePartition``.  Every row set derives from a container read, so every
scope-, key- and window-keyed aggregate of the per-table programs, the
cross-table keyrefs and the model-error collapse finds its distribution
already satisfied: a document's plan has no shuffle Exchange, and
validating it runs the schema inference, the broadcast of a cross-table
keyref's keys and one result job.  Parallelism comes from validating
several documents, never from splitting one.

Every row set of a document — a row table, a document row, a nested
table, a substitution member, an xsi:type or alternative overlay — goes
through ONE reader (``_TableRead.read``): a ``_TableReader`` walks the
rows' inferred struct against one ``xsd_compile.RowType`` (the declared
type, or an overlay: ``CompiledXsd.row_types`` lists both) and yields the
string-typed flat rows plus the structural flags.  One loop
(``_TableRead.typed``) reads a table's row sets, each element against the
one type the reference gives it (an xsi:type, an xs:alternative arm, the
member's type for a substitution member, else the declared type), tags
each set with its row type and unions them: they are all rows of the
table.  Its one plan (``_table_plan``) checks each row under its own type
alone and counts every row in the declared occurrence bounds and
identities; a table without overlays has neither tag nor union.
Structural violations are descriptions (``_Flagged``) that only
:func:`validate_xml_instance` turns into DataFrames, so
:func:`xml_instance_tables` builds and binds no validation: one
``PassProgram`` per row set, gated on the rows where some flag holds, that
emits the engine's one violation row (so a long ``offending_value`` is
truncated like every other).

Beyond the flat subset, the reader resolves (r5): wildcard markers
(``xs:any``/``xs:anyAttribute``/``xs:openContent`` gate the undeclared
flags), ``mixed="true"`` char data, ``nillable``/``xsi:nil`` (a nilled
element satisfies Required, elements.py:711-728), NESTED repeated tables
(per-parent-row composite scope through the unchanged identities/occurs
machinery), recursive content models (cycle-cut one-level-deep
validation), document-value tables with whiteSpace=preserve, and
``vc:minVersion`` version gating.

Reference parity pinned by tests/test_xml_instance.py +
tests/test_wildcards_mixed.py: **every XML instance in the reference's
testfiles list validates with exact parity — 57 of 57** (19 ``--errors=N``
counts + 38 valid instances clean, the reference's
tests/test_cases/testfiles); with the schema-document meta-validator
(xsd_meta.py) all 49 ``--errors=N`` cases (instances + schema documents)
reproduce exact counts.  Those tests read the reference corpus and skip
without it; the repo-authored fixtures in the same files pin each reader
path offline.  The last two instance counts (model1, issue_029-2) are
closed by ``_CollapseProgram``: element content-model reports (occurs
bounds, element-backed Required) collapse to one per container element
instance, matching the reference ModelVisitor's stop-after-first-error
granularity.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, replace
from functools import partial, reduce
from itertools import chain
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import keyref_program
from sissaschool_xmlschema_spark.operators.sequence import (
    VIOLATION_SCHEMA,
    PassProgram,
    violation_struct,
)
from sissaschool_xmlschema_spark.plans.compiler import (
    CompiledPlan,
    compile_plan,
    key_missing_field_check,
)
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.xml_text import declared_encoding
from sissaschool_xmlschema_spark.xsd_compile import (
    CompiledXsd,
    RowType,
    _ns_admits,
    compile_xsd,
)


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


def _elem_required_paths(compiled) -> list:
    """Full violation paths (``table/column``, an overlay's own TableSpec
    name for its rows) of element-backed Required facets — the 'missing
    required child element' class the reference's ModelVisitor folds into
    one content-not-complete error per container (groups.py model
    validation; testfiles issue_029-2).  Attribute-backed Required columns
    ('@' step in column_paths) are excluded: the reference reports missing
    required attributes individually (cvc-complex-type.4).
    """
    out = []
    for rt in chain.from_iterable(compiled.row_types.values()):
        for col in rt.spec.columns:
            p = rt.column_paths.get(col.name)
            if p is None or any(seg.startswith("@") for seg in p):
                continue
            if any(isinstance(f, S.Required) for f in col.facets):
                out.append(f"{rt.spec.name}/{col.name}")
    return out


def _model_ranks(compiled, elem_req) -> dict:
    """Content-model violation path -> compile-time particle position inside
    its container: an element-backed Required column's position in its row
    element's content model, a row table's position among its container's
    children (bare ``table`` paths of the occurs rows and the
    ``container/table`` path of an absent row element)."""
    ranks: dict = {}
    for tname, pos in compiled.particle_rank.items():
        ranks[tname] = pos
        parent = compiled.parent_of.get(tname)
        if parent is not None and parent != tname:
            ranks[f"{parent}/{tname}"] = pos
    for rt in chain.from_iterable(compiled.row_types.values()):
        for i, col in enumerate(rt.spec.columns):
            if f"{rt.spec.name}/{col.name}" in elem_req:
                ranks.setdefault(f"{rt.spec.name}/{col.name}", i)
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
    structural violations pass through untouched.

    One ``row_number`` over a window that also partitions by "is a model
    error" ranks the model rows apart from the others, and :meth:`bind`
    keeps every other row and the first model row of each partition: the
    union of the parts is planned and read once, and over a document's
    single partition the window needs no shuffle."""

    row_number: Column
    keep: Column

    def bind(self, out: DataFrame) -> DataFrame:
        return (
            out.withColumn("_rn", self.row_number)
            .filter(self.keep)
            .drop("_rn")
        )


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
    # model and other rows rank apart in one window; a NULL is_model
    # (NULL constraint_id) keeps no row
    w = Window.partitionBy(
        is_model, "conv_id", container, F.coalesce("turn_idx", F.lit(-1))
    ).orderBy(rank.asc_nulls_last(), "path", "constraint_id")
    return _CollapseProgram(
        row_number=F.row_number().over(w),
        keep=~is_model | (is_model & (F.col("_rn") == 1)),
    )


@dataclass(frozen=True)
class _Flagged:
    """Structural violations of one row set, as a description: for each
    ``(cond, constraint_id, value, reason)`` of ``flags``, one violation
    at ``path`` per row of ``rows`` where ``cond`` holds (every row when
    it is None).  One pass over the rows finds them all, gated on the rows
    where some flag holds (a :class:`PassProgram`); only
    :func:`validate_xml_instance` turns it into a DataFrame."""

    rows: DataFrame
    path: str
    flags: tuple

    def violations(self, label: str) -> DataFrame:
        conds = [F.lit(True) if cond is None else cond
                 for cond, _, _, _ in self.flags]
        return PassProgram(
            selects=[],
            flag=reduce(lambda a, b: a | b, conds),
            violations=F.array(*[
                F.when(cond, violation_struct(
                    label, None, self.path, cid, value, reason
                ))
                for cond, (_, cid, value, reason) in zip(conds, self.flags)
            ]),
        ).bind(self.rows)


class _TableReader:
    """Walks one row element's inferred struct against one
    :class:`~sissaschool_xmlschema_spark.xsd_compile.RowType`: the
    table's declared type or one of its overlays."""

    def __init__(self, name, row_type: RowType, compiled, nsmap):
        self.name = name
        self.paths = {tuple(p): col
                      for col, p in row_type.column_paths.items()}
        self.skipped = {tuple(s) for s in row_type.skipped}
        self.prefixes = set()
        for p in [*self.paths, *self.skipped]:
            for i in range(1, len(p)):
                self.prefixes.add(p[:i])
        self.wildcards = row_type.wildcards
        self.mixed = row_type.mixed
        self.target_ns = compiled.target_namespace
        self.nsmap = nsmap
        self.globals = compiled.global_elements
        self.extract: dict = {}
        self.flags: list = []  # (cond, constraint_id, value, reason)

    def _flag(self, col, kind, local, reason_tail):
        self.flags.append((
            col.isNotNull(), f"structure:{kind}", col,
            f"{kind.replace('-', ' ')} '{local}' on '{self.name}' "
            f"({reason_tail})",
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
            if sf.name.startswith("_xmlns") \
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
                self.flags.append((
                    txt.isNotNull() & (txt != ""), "structure:char-data",
                    txt, "character data not allowed in element-only "
                    "content (cvc-complex-type.2.3)",
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
        # container local name -> the one table reporting its stray text
        self.char_data: dict = {}
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
            # the XML source reads a file as one split: coalesce(1) moves
            # no data, it declares the single partition to the planner
            self.containers[key] = _read_container(
                self.spark, self.path, *key
            ).coalesce(1)
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


def _field_by_local(dtype: T.StructType, step: str):
    """The inferred child-element field named ``step``, if any.  Names may
    be qualified (elementFormDefault="qualified", vh:car) or not
    (collection's bare <object>): match by local name."""
    return next((sf for sf in dtype.fields if not sf.name.startswith("_")
                 and _local_of(sf.name)[0] == step), None)


def _xsi_type_field(dtype: T.StructType, nsmap: dict):
    """The inferred field carrying xsi:type, if any ('_xsi:type' under the
    conventional prefix; any prefix bound to the XSI namespace counts)."""
    return next((sf.name for sf in dtype.fields
                 if _is_xsi_machinery(sf.name, nsmap)
                 and _local_of(sf.name)[0] == "type"), None)


def _xsi_local(col):
    return F.element_at(F.split(col.cast("string"), ":"), -1)


def _rows_of(container: DataFrame, local: str):
    """One row per ``local`` child of the container, in ``_row``; None when
    the document has none."""
    sf = _field_by_local(container.schema, local)
    if sf is None:
        return None
    elem = F.col(f"`{sf.name}`")
    if isinstance(sf.dataType, T.ArrayType):
        elem = F.explode(elem)
    return container.select(elem.alias("_row"))


# the row type tag of a table with overlays: the row type's position in
# its CompiledXsd.row_types entry (0: the declared type)
_ROW_TYPE = "_row_type"


def _only(selector: Optional[str], tag: int) -> str:
    """The SQL predicate ``selector`` (None: every row) on the rows
    tagged ``tag`` only."""
    mine = f"`{_ROW_TYPE}` = {tag}"
    return mine if selector is None else f"({selector}) AND {mine}"


def _table_plan(compiled: CompiledXsd, name: str) -> CompiledPlan:
    """The one compiled plan of table ``name``'s flat rows.  Each row's
    own type checks it: each row type's row checks (with the paths,
    constraint ids and reasons of its own TableSpec) hold on the rows
    carrying its tag.  The declared identities and occurrence bounds
    count every row; an overlay's identities the declared type lacks (by
    name) select its rows only."""
    row_types = compiled.row_types[name]
    spec = row_types[0].spec
    if len(row_types) == 1:
        return compile_plan(spec)
    tag = F.col(_ROW_TYPE)
    checks: list = []
    identities = list(spec.identities)
    declared = {c.name for c in identities}
    for i, rt in enumerate(row_types):
        own = tuple(
            replace(c, selector=_only(c.selector, i), **(
                {"refer_selector": _only(c.refer_selector, i)}
                if isinstance(c, S.Keyref) else {}
            ))
            for c in rt.spec.identities if c.name not in declared
        )
        checks += [replace(chk, ok=(tag != i) | chk.ok) for chk in
                   compile_plan(replace(rt.spec, identities=own)).row_checks]
        identities += own
    checks += [key_missing_field_check(c, name)
               for c in spec.identities if isinstance(c, S.Key)]
    spec = replace(spec, identities=tuple(identities))
    return CompiledPlan(spec=spec, row_checks=checks,
                        identities=spec.identities, model=spec.model)


class _TableRead:
    """One table of one document: reads its row sets into its flat rows
    and collects their structural violations (:class:`_Flagged`).  Every
    row set has the table's columns (the declared type's, then each
    overlay's own), the row type tag if the table has overlays, and the
    scope and order Columns ``keys``."""

    def __init__(self, src: _Document, compiled: CompiledXsd, name: str,
                 parent: str, keys: list) -> None:
        self.src, self.compiled = src, compiled
        self.name, self.parent, self.keys = name, parent, keys
        self.row_types = compiled.row_types[name]
        self.columns = list(dict.fromkeys(
            c.name for rt in self.row_types for c in rt.spec.columns
        ))
        self.parts: list = []

    def read(self, name, tag, rows, rtype, flags=(), keys=None) -> DataFrame:
        """The flat rows of one row set read against row type ``tag`` (a
        position in the table's row types): ``rows`` holds one ``name``
        element per row in its ``_row`` column (of type ``rtype``); the
        flat rows hold the strings at the row type's paths (NULL in the
        table's other columns), tagged ``tag``, and the ``keys`` Columns
        (by default the table's).  The walk's structural violations and
        ``flags`` on the same rows join the parts."""
        rdr = _TableReader(name, self.row_types[tag], self.compiled,
                           self.src.nsmap)
        if isinstance(rtype, T.StructType):
            rdr.walk(rtype, "_row.", ())
        elif () in rdr.paths:
            # structureless rows (empty elements / bare text): nothing to
            # walk; the element's own text maps to its ()-path column
            rdr.extract[rdr.paths[()]] = F.col("_row").cast("string")
        if rdr.flags or flags:
            self.parts.append(_Flagged(
                rows, f"{self.parent}/{name}", (*rdr.flags, *flags)
            ))
        return rows.select(*[
            rdr.extract.get(c, F.lit(None).cast("string")).alias(c)
            for c in self.columns
        ], *([F.lit(tag).alias(_ROW_TYPE)]
             if len(self.row_types) > 1 else []), *(keys or self.keys))

    def typed(self, rows, member_rows=None) -> Optional[DataFrame]:
        """The table's flat rows (None: there are none): its row elements
        ``rows`` (None: absent) and the substitution members
        ``member_rows(name)`` standing in for them (elements.py:611-621),
        read against the member's type.  A row element is read against
        ONE type, in the reference's order: an xsi:type naming a type
        derived from the declared one (elements.py:657-682), else the
        first xs:alternative arm whose test it matches (elements.py:
        1345-1365), else the declared type; an xsi:type naming no
        compiled type is flagged.  A table without overlays reads its row
        elements as one row set, untagged, as they come."""
        name, (declared, *overlays) = self.name, self.row_types
        rtype = None if rows is None else rows.schema["_row"].dataType
        order, named = declared.spec.order_col, None
        if overlays:
            # the keys are evaluated on the row elements before they split
            # into row sets, so row ids stay distinct and in document order;
            # the ids of row type i (a member) start at i * 2**33, above
            # every id of one partition (a document is one partition)
            named = [F.col(declared.spec.scope_col), F.col(order)]
            rows = None if rows is None else rows.select("*", *self.keys)
        struct = isinstance(rtype, T.StructType)
        xsi_types = [rt.name for rt in overlays if rt.kind == "xsi"]
        xf = struct and xsi_types and _xsi_type_field(rtype, self.src.nsmap)
        unknown = ()
        if xf:
            xcol = F.col(f"_row.`{xf}`")
            known = sorted({*xsi_types, declared.name} - {None})
            unknown = ((
                xcol.isNotNull() & ~_xsi_local(xcol).isin(known),
                "structure:unknown-xsi-type", xcol,
                f"xsi:type on '{name}' does not resolve to a compiled type "
                "(elements.py:657-682)",
            ),)
        flats, rest = [], rows
        for i, rt in enumerate(overlays, 1):
            if rt.kind == "member":
                mrows = member_rows and member_rows(rt.name)
                if mrows is not None and isinstance(
                        mrows.schema["_row"].dataType, T.StructType):
                    mrows = mrows.select("*", *self.keys).withColumn(
                        order, F.col(order) + (i << 33))
                    flats.append(self.read(
                        rt.name, i, mrows, mrows.schema["_row"].dataType,
                        (), named,
                    ))
                continue
            if rt.kind == "xsi" and xf:
                cond = F.coalesce(_xsi_local(xcol) == rt.name, F.lit(False))
            elif rt.kind == "alt" and struct and rt.attr is None:
                cond = F.lit(True)  # the unconditional (default) arm
            elif rt.kind == "alt" and struct \
                    and f"_{rt.attr}" in rtype.names:
                tcol = F.col(f"_row.`_{rt.attr}`").cast("string")
                cond = tcol.isNotNull() & (tcol == rt.value)
            else:
                continue  # no row of the document can match
            flats.append(self.read(
                name, i, rest.filter(cond), rtype,
                () if rt.kind == "xsi" else unknown, named,
            ))
            rest = rest.filter(~cond)
        if rows is not None:
            flats.insert(0, self.read(name, 0, rest, rtype, unknown, named))
        return reduce(DataFrame.unionByName, flats) if flats else None


def _flatten_nested(src: _Document, compiled, name):
    """One NESTED table's (flat DataFrame | None, [violation parts]):
    repeated elements below a row element, exploded level by level with
    the composite ``doc#parentIndex...`` landing in the ordinary scope
    column so identities/occurs run unchanged (xsd_compile.NestedTable).
    Levels gated on an xsi:type only see parent rows carrying it
    (elements.py:657-682)."""
    spec = compiled.specs[name]
    nested = compiled.nested_tables

    # parent chain from the TOP row element down to this table
    chain = [name]
    while nested[chain[0]].parent_table in nested:
        chain.insert(0, nested[chain[0]].parent_table)
    top = nested[chain[0]].parent_table

    parent = compiled.parent_of.get(name, top)
    container = src.container(parent)

    # level 0: the top row element's rows with their ordinal
    if top in compiled.doc_rows:
        keep = [fn for fn in container.columns if not fn.startswith("_")]
        rows = container.select(
            F.lit(0).alias("_p0"),
            F.struct(*[F.col(f"`{fn}`") for fn in keep]).alias("_row"),
        )
    else:
        sf = _field_by_local(container.schema, top)
        if sf is None:
            return None, []  # no parent rows: nothing to validate here
        if isinstance(sf.dataType, T.ArrayType):
            rows = container.select(
                F.posexplode(F.col(f"`{sf.name}`")).alias("_p0", "_row")
            )
        else:
            rows = container.select(
                F.lit(0).alias("_p0"), F.col(f"`{sf.name}`").alias("_row")
            )

    pos_cols = ["_p0"]
    for li, tbl in enumerate(chain):
        nt = nested[tbl]
        rtype = rows.schema["_row"].dataType
        if not isinstance(rtype, T.StructType):
            return None, []
        if nt.xsi_type:
            xf = _xsi_type_field(rtype, src.nsmap)
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
    keys = [
        F.concat_ws(
            "#", F.lit(src.label),
            *[F.col(c).cast("string") for c in pos_cols[:-1]],
        ).alias(spec.scope_col),
        F.col(pos_cols[-1]).cast("long").alias(spec.order_col),
    ]
    rtype = rows.schema["_row"].dataType
    paths = compiled.row_types[name][0].column_paths
    if not isinstance(rtype, T.StructType) or (
        set(paths) == {"value"} and tuple(paths["value"]) == ()
    ):
        # nested SIMPLE value table: the row IS the element text, or its
        # _VALUE when attributes made it a struct
        val = (
            F.col("_row") if not isinstance(rtype, T.StructType)
            else F.col("_row.`_VALUE`") if "_VALUE" in rtype.fieldNames()
            else F.lit(None)
        )
        return rows.select(val.cast("string").alias("value"), *keys), []

    read = _TableRead(src, compiled, name, parent, keys)
    return read.typed(rows), read.parts


def _flatten_one(src: _Document, compiled, name):
    """One table's (flat DataFrame | None, [violation parts])."""
    if name in compiled.nested_tables:
        return _flatten_nested(src, compiled, name)
    spec = compiled.specs[name]
    parent = compiled.parent_of.get(name, name)
    container = src.container(
        parent, preserve_space=name in compiled.preserve_space
    )
    fields = {f.name: f for f in container.schema.fields}
    # stable row id (partition-prefixed, NOT 0..n-1): enough for the Occurs
    # counts compile_xsd emits; schemas with ordered model checks should
    # land in parquet with a real order key
    read = _TableRead(src, compiled, name, parent, [
        F.lit(src.label).alias(spec.scope_col),
        F.monotonically_increasing_id().alias(spec.order_col),
    ])

    # a document-value table's own text IS the declared 'value' column —
    # everything else treats container _VALUE as stray char data
    has_own_text = () in {
        tuple(p) for p in compiled.row_types[name][0].column_paths.values()
    }

    # container-level stray character data (legitimate when the container's
    # type is mixed="true" — complex_types.py:35), flagged by one table per
    # container (src.char_data)
    on_container = []
    if "_VALUE" in fields and not has_own_text \
            and parent not in compiled.mixed_containers \
            and src.char_data.setdefault(parent, name) == name:
        txt = F.trim(F.col("`_VALUE`").cast("string"))
        on_container.append((
            txt.isNotNull() & (txt != ""), "structure:char-data", txt,
            "character data not allowed in element-only content of "
            f"'{parent}' (cvc-complex-type.2.3)",
        ))

    if name in compiled.doc_rows:
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
        rows = _rows_of(container, name)
    # a head that never appears itself leaves a table of its members
    flat = read.typed(rows, partial(_rows_of, container))
    if flat is None:
        # no row elements anywhere in the document: a minOccurs>0 bound
        # is still violated once per container occurrence
        # (cvc-complex-type.2.4.b content-not-complete)
        on_container += [
            (None, f"occurs:{occ.name}", F.lit("0"),
             f"element '{name}' occurs 0 times, minOccurs is "
             f"{occ.min_occurs} (cvc-complex-type.2.4.b)")
            for occ in spec.model
            if isinstance(occ, S.Occurs) and occ.min_occurs > 0
        ]
    if on_container:
        read.parts.append(
            _Flagged(container, f"{parent}/{name}", tuple(on_container))
        )
    return flat, read.parts


def _external_keyref_program(compiled, ext) -> tuple:
    """``(keyref program, last-occurrence Columns or None)`` of one
    cross-table keyref.  A key declared ON a single element propagates
    upward last-sibling-override (collection3bis): only the final
    occurrence per document scope is a visible key, picked by
    ``(row_number over scope by order desc, == 1)``."""
    last = None
    if ext.last_wins:
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
        flat, _parts = _flatten_one(src, compiled, name)  # never built
        if flat is not None:
            spec = compiled.specs[name]
            out[name] = flat.select(
                *[c.name for c in spec.columns], spec.scope_col,
                spec.order_col,
            )
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
    paths: dict = {}
    for name, df in xml_instance_tables(
        spark, xml_path, xsd_source, prefix=prefix, base_dir=base_dir
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
            VIOLATION_SCHEMA,
        )
    tables = [table] if table else sorted(compiled.specs)
    src = _Document(spark, xml_path, prefix)
    # stray text in a container shared by several tables is one error (as
    # the reference reports it): on the container's document row, else on
    # its first table
    src.char_data.update(
        (compiled.parent_of[n], n) for n in tables if n in compiled.doc_rows
    )
    parts: list = []
    flats: dict = {}
    for name in tables:
        flat, flagged = _flatten_one(src, compiled, name)
        parts += [part.violations(src.label) for part in flagged]
        if flat is not None:
            flats[name] = flat
            plan = _program(spark, compiled, ("table", name),
                            partial(_table_plan, compiled, name))
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
        return spark.createDataFrame([], VIOLATION_SCHEMA)
    out = reduce(DataFrame.unionByName, parts)
    collapse = _program(
        spark, compiled, "collapse", lambda: _collapse_program(compiled)
    )
    return collapse.bind(out)


def count_errors(
    spark: SparkSession, xml_path: str, xsd_source, **kwargs
) -> int:
    """The ``--errors=N`` number for one instance (testfiles factory)."""
    return validate_xml_instance(spark, xml_path, xsd_source, **kwargs).count()
