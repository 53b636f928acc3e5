"""XML encode sink + XML ingestion source over Spark's native XML support.

Round 1-2 declared the reference's encode path out of scope because the
engine operated on flat tables only.  Spark 4 ships a built-in StAX-based
XML data source and the ``to_xml`` / ``from_xml`` column functions, which
close both gaps Spark-first — the encoder runs JVM-side inside the
projection (row-local, zero shuffle, codegen-adjacent) and the file source
is a plain FileScan with column pruning:

* :func:`encode_turn_xml` — the encode sink analogue of the reference's
  ``XMLSchema.encode`` / ``iter_encode`` (validators/schemas.py:1660-1795)
  and ``etree_tostring`` (utils/etree.py:203): each validated row rendered
  as one ``<turn>`` element.
* :func:`encode_conversation_xml` — whole-document encoding: one nested
  ``<conversation>`` XML document per ``conv_id`` with its turns in stable
  ``turn_idx`` order (the reference serializes whole trees; per-turn text
  equality under that ordering is the north-rule row invariant).
* :func:`decode_turn_xml` — the matching decoder (``iter_decode``,
  validators/schemas.py:1439) with a PERMISSIVE corrupt-record channel —
  malformed documents land in ``_corrupt_record`` instead of failing the
  job, mirroring lax-mode error accumulation.
* :func:`write_xml_sink` / :func:`read_xml_source` — file-level sink and
  source.  ``read_xml_source`` REQUIRES a schema: XML schema inference is a
  full extra pass over the data, which at 100 TB is a second scan of the
  corpus; the validation engine always knows its spec schema up front
  (compile-once, xsd_globals.py:537-578 analogue).

Determinism contract (what makes the sink oracle-able): Spark's StAX
generator emits, per row, ``<turn>`` then one ``\\n    <field>value</field>``
line per NON-NULL field in struct order, then ``\\n</turn>``; element text
escapes ``&`` and ``<`` only; timestamps use the explicit
``timestampFormat`` below (microsecond precision, ``Z`` suffix — roundtrip
verified in tests/test_xml_io.py).  Null fields are omitted entirely,
matching the reference's treatment of absent optional elements.

Scale notes: encode/decode are row-local Column expressions — they ride
whole-stage codegen with no exchange; the file sink writes one XML part per
partition (partition the DataFrame by the intended document grouping
first); the file source is splittable per-file and prunes columns that the
downstream plan never touches.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Canonical transcript-turn columns, in the order they serialize.
TURN_COLS: List[str] = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

#: DDL schema for a serialized turn (BASELINE.json input_hint shape).
TURN_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

#: Microsecond-precision timestamp formats: the default millisecond formats
#: would silently truncate event timestamps, breaking roundtrip equality.
#: Parquet tables written with naive timestamps read back as TIMESTAMP_NTZ
#: in Spark 4, which serializes through timestampNTZFormat (no zone
#: suffix), so both formats are pinned.
TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

#: NTZ variant of the turn schema — what a parquet-backed transcripts table
#: actually carries (naive event timestamps).
TURN_SCHEMA_DDL_NTZ = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz"
)


def _xml_options(row_tag: str, extra: Optional[Dict[str, str]] = None) -> Dict[str, str]:
    opts = {
        "rowTag": row_tag,
        "timestampFormat": TS_FORMAT,
        "timestampNTZFormat": TS_NTZ_FORMAT,
    }
    if extra:
        opts.update(extra)
    return opts


def encode_turn_xml(
    df: DataFrame,
    cols: Optional[List[str]] = None,
    row_tag: str = "turn",
    out_col: str = "xml",
) -> DataFrame:
    """Append an ``out_col`` string column holding each row as one XML
    element (encode sink, reference validators/schemas.py:1761).

    Row-local: the StAX generator runs inside the projection — no shuffle,
    no Python.  Keep ``cols`` to the fields you serialize so the scan is
    pruned to exactly those columns.
    """
    cols = cols or [c for c in TURN_COLS if c in df.columns]
    return df.withColumn(
        out_col, F.to_xml(F.struct(*cols), _xml_options(row_tag))
    )


def encode_conversation_xml(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    turn_cols: Optional[List[str]] = None,
    row_tag: str = "conversation",
) -> DataFrame:
    """One XML document per conversation: ``(conv_id, xml)``.

    The turns nest as repeated ``<turn>`` elements in stable ``order_col``
    order — ``sort_array`` over structs whose FIRST field is the order key
    gives the deterministic document order the reference's tree serializer
    has for free (per-turn text equality under (conv_id, turn_idx) is the
    north-rule invariant).  One groupBy exchange on ``conv_col``; on the
    conv_id-bucketed production layout even that exchange vanishes.

    Documents are assembled whole per conversation, so a single
    conversation must fit in an executor's row budget — same bound the
    validation suite already carries for per-scope checks.
    """
    turn_cols = turn_cols or [
        c for c in (order_col, "role", "text", "tool", "ts") if c in df.columns
    ]
    # order key first => lexicographic struct sort == order-column sort
    turn_struct = F.struct(*turn_cols)
    agg = df.groupBy(conv_col).agg(
        F.sort_array(F.collect_list(turn_struct)).alias("turn")
    )
    return agg.select(
        F.col(conv_col),
        F.to_xml(
            F.struct(F.col(conv_col), F.col("turn")), _xml_options(row_tag)
        ).alias("xml"),
    )


def encode_table_xml(
    df: DataFrame,
    column_paths: Dict[str, tuple],
    row_tag: str,
    out_col: str = "xml",
) -> DataFrame:
    """Append ``out_col`` holding each flat row-element-table row as one
    XML element, inverting the instance reader's path flattening (the
    ``column_paths`` of the table's declared row type,
    ``xsd_compile.CompiledXsd.row_types[table][0]``; reference encode
    direction validators/schemas.py:1761 / converters round-trip).

    Attribute-backed columns ('@' steps) render as XML attributes via
    Spark's ``to_xml`` attributePrefix convention ('_'); an empty path ()
    is the element's own text (valueTag ``_VALUE``); multi-step paths nest
    as child structs.  Field order follows ``column_paths`` insertion
    order — the compiler records columns in schema model order, so an
    encoded sequence re-validates against the same schema.  Row-local
    (one projection), no shuffle.
    """
    tree: dict = {}
    for col, path in column_paths.items():
        segs = list(path)
        if not segs:
            tree["_VALUE"] = col
            continue
        cur = tree
        for s in segs[:-1]:
            cur = cur.setdefault(s, {})
        leaf = segs[-1]
        key = "_" + leaf[1:] if leaf.startswith("@") else leaf
        cur[key] = col

    def build(node: dict):
        fields = []
        for k, v in node.items():
            inner = build(v) if isinstance(v, dict) else (
                F.col(v).cast("string")
            )
            fields.append(inner.alias(k))
        return F.struct(*fields)

    return df.withColumn(
        out_col, F.to_xml(build(tree), _xml_options(row_tag))
    )


def decode_turn_xml(
    df: DataFrame,
    xml_col: str = "xml",
    schema_ddl: str = TURN_SCHEMA_DDL,
    row_tag: str = "turn",
    keep_surrounding_spaces: bool = True,
) -> DataFrame:
    """Parse ``xml_col`` back into typed turn columns plus a
    ``_corrupt_record`` failure channel (decoder analogue of
    ``iter_decode``, validators/schemas.py:1439; lax-mode error
    accumulation instead of fail-fast).

    ``keep_surrounding_spaces`` defaults True so text content roundtrips
    byte-identically (the source option default trims it); the reference
    preserves text verbatim unless a whiteSpace facet says otherwise.
    """
    opts = _xml_options(
        row_tag,
        {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": "_corrupt_record",
            "ignoreSurroundingSpaces": "false" if keep_surrounding_spaces else "true",
        },
    )
    parsed_schema = schema_ddl + ", _corrupt_record string"
    parsed = df.withColumn(
        "_parsed", F.from_xml(F.col(xml_col), parsed_schema, opts)
    )
    keep = [c for c in df.columns if c != xml_col]
    # guard: a kept input column with the same name as a decoded field
    # (e.g. encode output that still carries conv_id/turn_idx beside xml)
    # would produce duplicate column names that break later by-name
    # references — fail loudly instead of emitting an ambiguous frame
    decoded_names = {
        f.name for f in parsed.schema["_parsed"].dataType.fields
    }
    clash = [c for c in keep if c in decoded_names]
    if clash:
        raise ValueError(
            f"decode_turn_xml: input columns {clash} collide with decoded "
            f"field names; select them away first (e.g. df.select("
            f"{xml_col!r})) or rename them before decoding"
        )
    return parsed.select(*keep, "_parsed.*")


def write_xml_sink(
    df: DataFrame,
    path: str,
    row_tag: str = "turn",
    root_tag: str = "transcripts",
    mode: str = "overwrite",
) -> None:
    """File-level encode sink: one well-formed XML document per partition
    (``<root_tag>`` wrapping one ``<row_tag>`` per row).

    Partition placement is the caller's: repartition by the intended
    document grouping first (e.g. ``df.repartition("conv_id")`` or
    ``repartitionByRange``) — the sink itself adds no exchange.
    """
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .option("timestampFormat", TS_FORMAT)
        .option("timestampNTZFormat", TS_NTZ_FORMAT)
        .mode(mode)
        .save(path)
    )


def read_xml_source(
    spark: SparkSession,
    path: str,
    schema_ddl: str = TURN_SCHEMA_DDL,
    row_tag: str = "turn",
    keep_surrounding_spaces: bool = True,
) -> DataFrame:
    """XML ingestion source: the reference's document-load path
    (``XMLSchema.iter_decode`` over an XMLResource) as a Spark FileScan.

    ``schema_ddl`` is REQUIRED by design: inference is a second full pass
    over the corpus, and the validation spec already fixes the schema
    (compile-once; reference xsd_globals.py:537-578).  The scan is
    splittable and column-pruned like any file source — validate-only
    plans that never touch ``text`` will not parse it.
    """
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("timestampFormat", TS_FORMAT)
        .option("timestampNTZFormat", TS_NTZ_FORMAT)
        .option(
            "ignoreSurroundingSpaces",
            "false" if keep_surrounding_spaces else "true",
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema_ddl + ", _corrupt_record string")
        .load(path)
    )


# --- oracle-side rendering (shared contract, SQL-expressible) ---------------
#
# The DuckDB oracle reproduces Spark's deterministic element rendering with
# plain string SQL; keeping the two templates adjacent makes the contract
# auditable.  Escaping order matters: '&' first, then '<'; quotes stay
# literal, and '>' is escaped ONLY inside the ']]>' sequence (the one
# context where XML forbids a literal '>'), matching the StAX generator.

def oracle_escape_sql(expr: str) -> str:
    """DuckDB SQL escaping element text exactly like Spark's generator.

    Covers the escapes the transcript corpus can produce (``&``, ``<``,
    ``]]>``).  The StAX writer additionally escapes a literal carriage
    return as ``&#xd;`` (roundtrip-exact — tested), which this template
    does NOT replicate; none of the oracle corpora contain ``\\r``."""
    esc = f"replace(replace({expr}, '&', '&amp;'), '<', '&lt;')"
    return f"replace({esc}, ']]>', ']]&gt;')"


def oracle_turn_xml_sql(
    conv: str = "conv_id",
    idx: str = "turn_idx",
    role: str = "role",
    text: str = "text",
    tool: str = "tool",
    ts: Optional[str] = "ts",
    row_tag: str = "turn",
) -> str:
    """DuckDB expression rendering one turn identically to
    :func:`encode_turn_xml` (non-null fields only, 4-space indent,
    microsecond ``Z`` timestamps).  Pass ``ts=None`` for the
    timestamp-free projection: Spark renders timestamp STRINGS in the
    session timezone, so string-contract queries serialize only the
    tz-independent columns and leave ts equality to the typed roundtrip
    query."""
    def elem(tag: str, value_sql: str, col: str) -> str:
        return (
            f"CASE WHEN {col} IS NULL THEN '' ELSE "
            f"chr(10) || '    <{tag}>' || {value_sql} || '</{tag}>' END"
        )

    parts = [
        f"'<{row_tag}>'",
        elem("conv_id", oracle_escape_sql(conv), conv),
        elem("turn_idx", f"CAST({idx} AS VARCHAR(30))", idx),
        elem("role", oracle_escape_sql(role), role),
        elem("text", oracle_escape_sql(text), text),
        elem("tool", oracle_escape_sql(tool), tool),
    ]
    if ts is not None:
        ts_txt = f"strftime({ts}, '%Y-%m-%dT%H:%M:%S.%fZ')"
        parts.append(elem("ts", ts_txt, ts))
    parts.append(f"chr(10) || '</{row_tag}>'")
    return " || ".join(parts)


def xml_stream_source(
    spark: SparkSession,
    path: str,
    schema_ddl: str = TURN_SCHEMA_DDL,
    row_tag: str = "turn",
    max_files_per_trigger: Optional[int] = None,
    keep_surrounding_spaces: bool = True,
):
    """Streaming XML ingestion: one micro-batch per new batch of XML
    documents — the exact analogue of the reference's lazy iterparse
    (xml_resource.py:536-579: bounded memory, subtree at a time), with
    Spark's file-source stream doing the document discovery.

    Feeds ``run_incremental`` / ``stream_facet_violations`` directly, so
    the engine validates a *live feed of XML documents* end-to-end — the
    reference's primary input mode, at cluster scale.  Schema required,
    same as the batch source (no inference pass)."""
    reader = (
        spark.readStream.format("xml")
        .option("rowTag", row_tag)
        .option("timestampFormat", TS_FORMAT)
        .option("timestampNTZFormat", TS_NTZ_FORMAT)
        .option(
            "ignoreSurroundingSpaces",
            "false" if keep_surrounding_spaces else "true",
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema_ddl + ", _corrupt_record string")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)
