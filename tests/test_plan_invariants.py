"""Global plan-invariant sweep: every driver-contract query is audited for
the anti-patterns the engine promises to avoid (PLANS.md, SCALE.md):

* NO ``CartesianProduct`` anywhere — unbounded cross joins are the classic
  100 TB killer.  (``BroadcastNestedLoopJoin`` is allowed: it only appears
  where the engine crossJoins an explicitly broadcast one-row/tiny frame.)
* NO row-at-a-time Python (``BatchEvalPython``) anywhere — the hot path is
  Column algebra; Python exists only as Arrow-batched kernels.
* Arrow-batched Python (``MapInPandas`` / ``FlatMapGroupsInPandas`` /
  ``ArrowEvalPython``) ONLY in the sanctioned kernel queries (trained LID,
  BPE encoding, FFD packing, multimodal feature extraction).

One sweep over the whole registry keeps every future operator honest — a
new query that sneaks in a cartesian join or a Python UDF fails here, not
in a 100 TB run.

The transcript suite's own shape is pinned too: two scans, one Window
whose explode runs only on the rows a Filter flags, and the same violation
rows as its checks run one branch each."""

import contextlib
import dataclasses
import datetime as dt
import os
import re
from collections import Counter

import pytest

import __spark_entry__ as entry
from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import (
    key_missing_field_violations,
    keyref_violations,
    unique_violations,
)
from sissaschool_xmlschema_spark.operators.sequence import (
    model_window_violations,
    occurs_violations,
)
from sissaschool_xmlschema_spark.plans.compiler import compile_plan
from sissaschool_xmlschema_spark.plans.runner import (
    row_local_violations,
    validate,
)
from sissaschool_xmlschema_spark.sources.transcripts import (
    corrupt_transcripts,
    synthetic_transcripts,
)
from sissaschool_xmlschema_spark.spec import transcript_spec

SF = "/root/testdata/sf0.001"

#: queries whose PLANS may contain Arrow-batched Python (documented kernels)
PANDAS_KERNEL_OK = {
    "lang_id_model",
    "bpe_vocab",
    "bpe_tokens",
    "bpe_tokens_fixed",  # same sanctioned mapInPandas encoder as bpe_tokens
    "pack_bins",
    "multimodal_features",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_no_antipatterns_in_plan(spark, name):
    df = entry.queries()[name](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name}: unbounded cross join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in PANDAS_KERNEL_OK:
        for marker in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            assert marker not in plan, (
                f"{name}: unsanctioned Python stage {marker}"
            )


# --- the transcript suite: one ordered pass ---------------------------------


def _tree(df) -> list:
    """``(indent, operator name)`` per node of ``df``'s executed plan, in
    tree order."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return [
        (len(m.group(1)), m.group(2))
        for m in re.finditer(r"^([\s:+\-*()\d]*)([A-Za-z]\w*)", tree, re.M)
    ]


def _nodes(df) -> Counter:
    """Physical operator names of ``df``'s executed plan, one per node."""
    return Counter(name for _, name in _tree(df))


def _path_below(df, top: str, bottom: str) -> list:
    """Operator names from the first ``top`` node of ``df``'s executed plan
    down to the first ``bottom`` node of its subtree."""
    nodes = _tree(df)
    start = next(i for i, (_, n) in enumerate(nodes) if n == top)
    path = []
    for depth, name in nodes[start + 1:]:
        assert depth > nodes[start][0], (top, bottom, nodes)
        if name == bottom:
            return path
        path.append(name)
    raise AssertionError(f"no {bottom} below {top}: {nodes}")


def _small_transcripts(spark):
    return corrupt_transcripts(
        synthetic_transcripts(spark, n_convs=60, hot_convs=1, hot_turns=50),
        every=7,
    )


def test_suite_plan_shape_plain_parquet(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _small_transcripts(spark).write.parquet(path)
    t = spark.read.parquet(path)
    v = validate(t, compile_plan(transcript_spec())).violations
    nodes = _nodes(v)
    # the window pass (stage A's row checks ride it) and the same-table
    # keyref groupBy
    assert nodes["FileScan"] <= 2, nodes
    assert nodes["Exchange"] <= 2, nodes
    assert nodes["Window"] == 1, nodes
    assert nodes["Generate"] <= 1, nodes
    assert "Filter" in _path_below(v, "Generate", "Window")
    # no higher-order lambda: it would leave whole-stage codegen
    assert "lambdafunction" not in _plan(v)


def test_suite_plan_shape_bucketed(spark, tmp_path):
    name = "plan_shape_bucketed"
    (
        _small_transcripts(spark).repartition(4, "conv_id")
        .write.bucketBy(4, "conv_id").sortBy("conv_id", "turn_idx")
        .option("path", str(tmp_path / "b")).saveAsTable(name)
    )
    try:
        t = spark.table(name)
        v = validate(t, compile_plan(transcript_spec())).violations
        nodes = _nodes(v)
        assert nodes["FileScan"] <= 2, nodes
        assert nodes["Exchange"] == 0, nodes
        assert nodes["Window"] == 1, nodes
        assert nodes["Generate"] <= 1, nodes
        assert "Filter" in _path_below(v, "Generate", "Window")
        assert "lambdafunction" not in _plan(v)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _standalone_branches(df, spec):
    """One branch per check family, each over its own scan: the suite's
    shape before occurrence bounds, sort-key duplicates and key
    missing-field checks joined the passes it already makes."""
    facets_only = compile_plan(dataclasses.replace(spec, identities=()))
    parts = [
        row_local_violations(df, facets_only),
        model_window_violations(
            df, [c for c in spec.model if not isinstance(c, S.Occurs)],
            spec.name, spec.scope_col, spec.order_col, tuple(spec.tiebreakers),
        ),
        occurs_violations(df, spec.model, spec.name, spec.scope_col),
    ]
    for c in spec.identities:
        if isinstance(c, S.Keyref):
            parts.append(keyref_violations(df, c, spec.name))
            continue
        parts.append(unique_violations(df, c, spec.name, spec.order_col))
        if isinstance(c, S.Key):
            parts.append(
                key_missing_field_violations(df, c, spec.name, spec.order_col)
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_fused_suite_rows_equal_standalone_branches(spark):
    ts = dt.datetime(2024, 1, 1)
    planted = spark.createDataFrame(
        [
            # duplicate turn_idx (three times) in an otherwise valid conv
            ("conv-90000001", 0, "user", "hi", None, ts),
            ("conv-90000001", 1, "assistant", "a", None, ts),
            ("conv-90000001", 1, "assistant", "b", None, ts),
            ("conv-90000001", 1, "user", "c", None, ts),
            # NULL turn_idx
            ("conv-90000002", None, "user", "hi", None, ts),
            ("conv-90000002", 0, "user", "hi", None, ts),
            # NULL conv_id, with a duplicate inside the NULL scope
            (None, 0, "user", "x", None, ts),
            (None, 0, "user", "y", None, ts),
            # no user turn at all
            ("conv-90000003", 0, "system", "s", None, ts),
            ("conv-90000003", 1, "assistant", "a", None, ts),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    df = _small_transcripts(spark).unionByName(planted)
    base = transcript_spec()
    # a scope-less Key: NULL conv_id on its rows, counted by its own groupBy
    spec = dataclasses.replace(
        base,
        identities=(
            *base.identities,
            S.Key("global-turn", fields=("conv_id", "turn_idx")),
        ),
    )
    fused = Counter(
        tuple(r) for r in validate(df, compile_plan(spec)).violations.collect()
    )
    want = Counter(tuple(r) for r in _standalone_branches(df, spec).collect())
    assert fused == want
    ids = {k[3] for k in fused}
    for cid in (
        "key:turn-key", "key:turn-key:missing-field",
        "key:global-turn:missing-field", "occurs:min-one-user",
        "model:turn-contiguity", "keyref:tool-ref",
    ):
        assert cid in ids, cid
    assert (
        "conv-90000001", 1, "transcripts", "key:turn-key", "1",
        "duplicated value (1) for identity constraint 'turn-key' (3 times)",
    ) in fused
    assert (None, 0, "transcripts", "key:turn-key", "0",
            "duplicated value (0) for identity constraint 'turn-key' "
            "(2 times)") in fused
    assert any(
        k[0] is None and k[3] == "key:global-turn:missing-field"
        for k in fused
    )


def test_ordered_pass_carries_row_checks(spark):
    """Stage A's row checks ride the ordered pass row for row: NULL role,
    ts, turn_idx and conv_id, a row failing both a facet and a transition,
    and a spec of more than 63 row checks (two mask words).  With the
    scope-size guard stage A keeps its own pass and still checks the rows
    of the oversized scope the window drops."""
    ts = dt.datetime(2024, 1, 1)
    planted = spark.createDataFrame(
        [
            ("conv-90000011", 0, "system", "s", None, ts),
            ("conv-90000011", 1, "user", "hi", None, ts),
            ("conv-90000011", 2, None, "x", None, ts),
            # NULL ts after a non-NULL one
            ("conv-90000011", 3, "assistant", "y", None, None),
            ("conv-90000011", 4, "user", "z", None, ts),
            ("conv-90000012", None, "user", "hi", None, ts),
            ("conv-90000012", 0, "user", "hi", None, ts),
            (None, 0, "user", "x", None, ts),
            (None, 1, "assistant", "", None, ts),
            # an enumeration facet and a transition on one row
            ("conv-90000013", 0, "system", "s", None, ts),
            ("conv-90000013", 1, "alien", "a", None, ts),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    df = corrupt_transcripts(
        synthetic_transcripts(spark, n_convs=30, hot_convs=1, hot_turns=80),
        every=7,
    ).unionByName(planted)

    def rows(frame):
        return Counter(tuple(r) for r in frame.collect())

    base = transcript_spec()
    assert compile_plan(base).program.fused
    fused = rows(validate(df, compile_plan(base)).violations)
    assert fused == rows(_standalone_branches(df, base))
    for k in (
        ("conv-90000011", 2, "transcripts/role", "facet:role:Required"),
        ("conv-90000012", None, "transcripts/turn_idx",
         "facet:turn_idx:Required"),
        (None, 1, "transcripts/text", "facet:text:MinLength"),
        ("conv-90000013", 1, "transcripts/role", "facet:role:Enumeration"),
        ("conv-90000013", 1, "transcripts", "model:role-transitions"),
    ):
        assert any(r[:4] == k for r in fused), k

    # turn i % 70 fails assertion i: checks 63.. (assertions 50..) fill the
    # second mask word, and only the 80-turn conversation reaches them
    wide = dataclasses.replace(base, row_assertions=tuple(
        S.RowAssertion(f"wide-{i}", f"turn_idx % 70 <> {i}")
        for i in range(70)
    ))
    plan = compile_plan(wide)
    assert len(plan.row_checks) > 63 and plan.program.fused
    got = rows(validate(df, plan).violations)
    assert got == rows(_standalone_branches(df, wide))
    ids = {r[3] for r in got}
    assert "assert:wide-3" in ids and "assert:wide-65" in ids

    capped = compile_plan(dataclasses.replace(wide, max_scope_rows=60))
    assert not capped.program.fused
    got = rows(validate(df, capped).violations)
    row_ids = {c.constraint_id for c in capped.row_checks}
    assert Counter(
        {r: n for r, n in got.items() if r[3] in row_ids}
    ) == rows(row_local_violations(df, capped))
    hot = "conv-00000000"
    assert {r[3] for r in got if r[0] == hot} & {
        f"assert:wide-{i}" for i in range(50, 70)
    }
    assert any(r[0] == hot and r[3] == "limit:max-scope-rows" for r in got)
    assert not any(r[0] == hot and r[3].startswith("model:") for r in got)


# --- the validation program: built once per plan, bound per input ----------


@contextlib.contextmanager
def _round_trips(spark):
    """Counts the Py4J commands the driver sends while the block runs.
    Memory commands are left out: they release JVM objects whenever Python's
    garbage collector frees earlier ones, whatever the block builds."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


#: two row tables (speaker, turn) under one container, a key and a
#: cross-table keyref
CHAT_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="chat">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="speaker" maxOccurs="unbounded">
          <xs:complexType>
            <xs:attribute name="id" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
        <xs:element name="turn" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="text">
                <xs:simpleType>
                  <xs:restriction base="xs:string">
                    <xs:maxLength value="8"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
            </xs:sequence>
            <xs:attribute name="idx" type="xs:nonNegativeInteger"
                          use="required"/>
            <xs:attribute name="speaker" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
    <xs:key name="speakerKey">
      <xs:selector xpath="speaker"/>
      <xs:field xpath="@id"/>
    </xs:key>
    <xs:keyref name="turnSpeaker" refer="speakerKey">
      <xs:selector xpath="turn"/>
      <xs:field xpath="@speaker"/>
    </xs:keyref>
  </xs:element>
</xs:schema>"""


def _chat_docs(tmp_path):
    """Two documents with different planted errors: an over-long text, then
    a duplicate speaker id, an unknown speaker and a negative index."""
    a = tmp_path / "a.xml"
    a.write_text(
        '<chat><speaker id="u"/><speaker id="b"/>'
        '<turn idx="0" speaker="u"><text>hi</text></turn>'
        '<turn idx="1" speaker="b"><text>far too long</text></turn></chat>'
    )
    b = tmp_path / "b.xml"
    b.write_text(
        '<chat><speaker id="u"/><speaker id="u"/>'
        '<turn idx="0" speaker="x"><text>hi</text></turn>'
        '<turn idx="-1" speaker="u"><text>ok</text></turn></chat>'
    )
    return str(a), str(b)


def test_warm_suite_build_round_trips(spark):
    """A plan builds its Columns once: binding it to an input again costs
    about a hundred Py4J round trips, not several per Column operation
    (6,031 when every call rebuilt them)."""
    df = _small_transcripts(spark)
    plan = compile_plan(transcript_spec())
    validate(df, plan)
    with _round_trips(spark) as sent:
        validate(df, plan)
    assert sent[0] <= 600, sent[0]


def test_warm_xml_build_round_trips(spark, tmp_path):
    """A CompiledXsd keeps its tables' plans: a second document's build
    only reads and walks the document.  The bound is a third of the 4,757
    round trips this build made when each document recompiled every
    plan."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    compiled = compile_xsd(CHAT_XSD)
    a, b = _chat_docs(tmp_path)
    validate_xml_instance(spark, a, compiled)
    with _round_trips(spark) as sent:
        validate_xml_instance(spark, b, compiled)
    assert sent[0] <= 4_757 // 3, sent[0]


def _jobs_in_group(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, "xml container reads")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_shared_container_read_once_per_document(spark, tmp_path):
    """speaker and turn share the chat container: building the document's
    violations (or its tables) runs ONE schema-inference job, not one per
    table."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
        xml_instance_tables,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    compiled = compile_xsd(CHAT_XSD)
    a, _ = _chat_docs(tmp_path)
    assert _jobs_in_group(
        spark, "xml-validate-build",
        lambda: validate_xml_instance(spark, a, compiled),
    ) == 1
    assert _jobs_in_group(
        spark, "xml-tables-build",
        lambda: xml_instance_tables(spark, a, compiled),
    ) == 1


def test_one_document_is_one_partition(spark, tmp_path):
    """Spark's XML source reads a file as one split however small the
    split size, so a document's container read declares one partition
    without moving data.  A Spark that splits XML files fails here rather
    than quietly running each document's validation in one task."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        _Document,
        _read_container,
    )

    doc = tmp_path / "long.xml"
    doc.write_text(
        "<chat>" + '<speaker id="u"/>' * 2_000 + "".join(
            f'<turn idx="{i}" speaker="u"><text>hi</text></turn>'
            for i in range(2_000)
        ) + "</chat>"
    )
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "4096")
    spark.conf.set(keys[1], "1024")
    try:
        # control: the same file read as text does split at this size
        assert spark.read.text(str(doc)).rdd.getNumPartitions() > 1
        assert _read_container(
            spark, str(doc), "chat"
        ).rdd.getNumPartitions() == 1
        container = _Document(spark, str(doc), None).container("chat")
        assert container.rdd.getNumPartitions() == 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_xml_document_plan_is_shuffle_free(spark, tmp_path):
    """A document's two tables, key, cross-table keyref and model-error
    collapse all run over its one partition: no shuffle, and its action
    runs the keyref's broadcast and the result, no more."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    compiled = compile_xsd(CHAT_XSD)
    for i, doc in enumerate(_chat_docs(tmp_path)):
        v = validate_xml_instance(spark, doc, compiled)
        jobs = _jobs_in_group(spark, f"xml-validate-run-{i}", v.collect)
        nodes = _nodes(v)
        assert nodes["Exchange"] == 0, nodes
        assert nodes["BroadcastExchange"] >= 1, nodes
        assert jobs <= 2, jobs
        assert "lambdafunction" not in _plan(v)


def test_overlay_document_plan_is_shuffle_free(spark):
    """The shop document holds all three overlay kinds (an xsi:type row,
    substitution members, an xs:alternative arm): each table's rows of
    every type run through its one plan, with no shuffle.  Bounds, with
    the schema's programs kept (the third document): jobs, FileScans and
    HashAggregates no more than when each overlay had a plan of its own
    (1, 26 and 12 nodes)."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "fixtures")
    compiled = compile_xsd(os.path.join(fx, "shop.xsd"), version="1.1")
    for i in range(3):
        v = validate_xml_instance(spark, os.path.join(fx, "shop.xml"),
                                  compiled)
        jobs = _jobs_in_group(spark, f"xml-overlay-run-{i}", v.collect)
    nodes = _nodes(v)
    assert nodes["Exchange"] == 0, nodes
    assert jobs <= 1, jobs
    assert nodes["FileScan"] <= 26, nodes
    assert nodes["HashAggregate"] <= 12, nodes


def test_program_rebinds_to_each_input(spark, tmp_path):
    """One CompiledPlan (and one CompiledXsd) validated against two inputs
    in turn gives, for each, the rows of a freshly compiled one: nothing in
    the program is bound to the first DataFrame."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    ts = dt.datetime(2024, 1, 1)
    planted = spark.createDataFrame(
        [
            ("conv-90000001", 0, "user", "hi", None, ts),
            ("conv-90000001", 1, "assistant", "a", None, ts),
            ("conv-90000001", 1, "assistant", "b", None, ts),
            ("conv-90000001", 1, "user", "c", None, ts),
            ("conv-90000002", None, "user", "hi", None, ts),
            ("conv-90000002", 0, "user", "hi", None, ts),
            (None, 0, "user", "x", None, ts),
            (None, 0, "user", "y", None, ts),
            ("conv-90000003", 0, "system", "s", None, ts),
            ("conv-90000003", 1, "assistant", "a", None, ts),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    clean = synthetic_transcripts(spark, n_convs=60, hot_convs=1,
                                  hot_turns=50)
    dirty = corrupt_transcripts(clean, every=7).unionByName(planted)
    base = transcript_spec()
    spec = dataclasses.replace(
        base,
        identities=(
            *base.identities,
            S.Key("global-turn", fields=("conv_id", "turn_idx")),
        ),
    )
    plan = compile_plan(spec)
    assert rows(validate(clean, plan).violations) == rows(
        validate(clean, compile_plan(spec)).violations
    )
    got = rows(validate(dirty, plan).violations)
    assert got == rows(validate(dirty, compile_plan(spec)).violations)
    assert len({k[3] for k in got}) >= 6, got

    compiled = compile_xsd(CHAT_XSD)
    seen = []
    for doc in _chat_docs(tmp_path):
        got = rows(validate_xml_instance(spark, doc, compiled))
        assert got == rows(
            validate_xml_instance(spark, doc, compile_xsd(CHAT_XSD))
        )
        seen.append({k[3] for k in got})
    assert seen[0] and seen[1] and seen[0] != seen[1], seen


def test_schema_programs_follow_the_spark_context(spark, tmp_path):
    """A CompiledXsd's kept programs hold Columns of the SparkContext that
    built them: entries from another context are rebuilt, never bound."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    compiled = compile_xsd(CHAT_XSD)
    a, _ = _chat_docs(tmp_path)
    want = Counter(
        tuple(r) for r in validate_xml_instance(spark, a, compiled).collect()
    )
    stale = object()  # stands in for a stopped SparkContext
    for key in compiled.programs:
        compiled.programs[key] = (stale, None)
    got = Counter(
        tuple(r) for r in validate_xml_instance(spark, a, compiled).collect()
    )
    assert got == want
    assert all(
        sc is spark.sparkContext for sc, _ in compiled.programs.values()
    )
