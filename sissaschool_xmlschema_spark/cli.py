"""Command-line entry points — the ``xmlschema-validate`` / ``xmlschema-xml2json``
analogues (reference: xmlschema/cli.py, console scripts in pyproject.toml:60-63),
shaped for ``spark-submit --py-files`` on a multi-executor cluster:

    spark-submit --py-files sissaschool_xmlschema_spark.zip \
        -m sissaschool_xmlschema_spark.cli validate \
        --spec spec.json --input s3://bucket/transcripts \
        --output /out --checkpoint /ckpt --partition-expr "to_date(ts)"

Local smoke form:

    python -m sissaschool_xmlschema_spark.cli validate \
        --spec spec.json --input /path/table.parquet --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(app: str):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    # master comes from spark-submit / env; default local[*] for smoke runs
    return builder.getOrCreate()


def _read(spark, path: str, fmt: str):
    if fmt == "table":
        return spark.table(path)
    return spark.read.format(fmt).load(path)


def cmd_validate(args: argparse.Namespace) -> int:
    from sissaschool_xmlschema_spark.plans.checkpoint import run_checkpointed
    from sissaschool_xmlschema_spark.schema import SparkSchema

    spark = _session("xmlschema-spark-validate")
    schema = SparkSchema(args.spec)
    df = _read(spark, args.input, args.format)

    if args.checkpoint:
        results = run_checkpointed(
            df,
            schema.spec,
            args.partition_expr or "1",
            args.checkpoint,
            args.output,
            resume=not args.no_resume,
            input_lineage=args.input,
        )
        summary = {
            "partitions": len(results),
            "skipped": sum(1 for r in results if r.skipped),
            "rows": sum(r.n_rows for r in results),
            "violations": sum(r.n_violations for r in results),
        }
    else:
        res = schema.run(df)
        # one suite execution: the writes and the count read the cache
        viol = res.violations.persist()
        try:
            if args.output:
                viol.write.mode("overwrite").parquet(
                    f"{args.output}/violations"
                )
                res.verdicts().write.mode("overwrite").parquet(
                    f"{args.output}/verdicts"
                )
            summary = {"rows": df.count(), "violations": viol.count()}
        finally:
            viol.unpersist()
    print(json.dumps(summary))
    return 0 if args.exit_zero or summary["violations"] == 0 else 1


def cmd_decode(args: argparse.Namespace) -> int:
    """xml2json analogue: typed decode to parquet/json with failure channel."""
    from sissaschool_xmlschema_spark.plans.decode import FieldDecode, decode

    spark = _session("xmlschema-spark-decode")
    df = _read(spark, args.input, args.format)
    fields = [
        FieldDecode(name, dtype, fmt or None)
        for name, dtype, fmt in (
            (f.split(":") + [""])[:3] for f in args.field
        )
    ]
    keep = [c for c in df.columns if c not in {f.name for f in fields}]
    typed, failures = decode(df, fields, keep_columns=keep)
    writer = typed.write.mode("overwrite")
    if args.json:
        writer.json(f"{args.output}/decoded")
    else:
        writer.parquet(f"{args.output}/decoded")
    failures.write.mode("overwrite").parquet(f"{args.output}/failures")
    print(json.dumps({"rows": typed.count(), "failures": failures.count()}))
    return 0


def cmd_validate_xml(args: argparse.Namespace) -> int:
    """``xmlschema-validate`` analogue (reference cli.py:235-279): validate
    raw XML files against an XSD.  Exit status = total error count; each
    file prints '<file> is valid' / 'is not valid', -v lists violations."""
    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    spark = _session("xmlschema-spark-validate-xml")
    compiled = compile_xsd(args.schema, version=args.version)
    tot_errors = 0
    for filepath in args.files:
        try:
            rows = validate_xml_instance(spark, filepath, compiled).collect()
        except Exception as err:  # malformed file: counts once, like the CLI
            tot_errors += 1
            sys.stderr.write(f"{err}\n")
            continue
        if not rows:
            sys.stdout.write(f"{filepath} is valid\n")
        else:
            tot_errors += len(rows)
            sys.stderr.write(f"{filepath} is not valid\n")
            if args.verbosity > 0:
                for r in rows:
                    sys.stderr.write(
                        f"  {r['path']}: {r['constraint_id']}: "
                        f"{r['reason']}\n"
                    )
    return tot_errors


def cmd_xml2jsonl(args: argparse.Namespace) -> int:
    """``xmlschema-xml2json`` analogue, Spark-shaped: decode each row-element
    table of every XML file to typed JSON Lines part files under
    <output>/<file-stem>/<table>/ — the document-per-line layout a
    100 TB pipeline wants, rather than one monolithic JSON document."""
    import os as _os

    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
        xml_instance_tables,
    )
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    spark = _session("xmlschema-spark-xml2jsonl")
    compiled = compile_xsd(args.schema, version=args.version)
    tot_errors = 0
    for filepath in args.files:
        stem = _os.path.splitext(_os.path.basename(filepath))[0]
        try:
            tables = xml_instance_tables(spark, filepath, compiled)
            n_viol = validate_xml_instance(spark, filepath, compiled).count()
        except Exception as err:
            tot_errors += 1
            sys.stderr.write(f"error with {filepath}: {err}\n")
            continue
        for tname, df in tables.items():
            df.write.mode("overwrite").json(
                f"{args.output}/{stem}/{tname}"
            )
        if n_viol:
            tot_errors += n_viol
            print(f"{filepath} converted to {args.output}/{stem} "
                  f"with {n_viol} errors")
        else:
            print(f"{filepath} converted to {args.output}/{stem}")
    return tot_errors


def cmd_json2xml(args: argparse.Namespace) -> int:
    """``xmlschema-json2xml`` analogue: re-encode ``xml2jsonl`` output
    (<input>/<stem>/<table>/ JSON Lines) back into XML documents under
    <output>/<stem>.xml, inverting the reader's path flattening via
    ``encode_table_xml``.  Covers the flat repeated-row subset (each
    table's rows nest inside their container element, containers inside
    the schema's root global element); each output document re-validates
    against the same schema before writing — validation errors count into
    the exit status like the reference CLI."""
    import os as _os

    from pyspark.sql import functions as F

    from sissaschool_xmlschema_spark.sources.xml_instance import (
        validate_xml_instance,
    )
    from sissaschool_xmlschema_spark.sources.xml_io import encode_table_xml
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    spark = _session("xmlschema-spark-json2xml")
    compiled = compile_xsd(args.schema, version=args.version)
    parents = set(compiled.parent_of.values())
    roots = sorted(
        compiled.global_elements - set(compiled.specs) - parents
    )
    root = args.root or (roots[0] if len(roots) == 1 else None)
    if root is None:
        print(
            f"json2xml: cannot infer the document root from {args.schema} "
            f"(candidates: {', '.join(roots) or 'none'}); pass --root",
            file=sys.stderr,
        )
        return 1
    _os.makedirs(args.output, exist_ok=True)
    tot_errors = 0
    for stem in sorted(_os.listdir(args.input)):
        sdir = _os.path.join(args.input, stem)
        if not _os.path.isdir(sdir):
            continue
        containers: dict = {}
        # specs insertion order = compile (schema model) order, so the
        # containers re-serialize in the sequence the schema declares
        for t in compiled.specs:
            tdir = _os.path.join(sdir, t)
            if not _os.path.isdir(tdir):
                continue
            df = spark.read.json(tdir)
            paths = compiled.row_types[t][0].column_paths
            x = encode_table_xml(df, paths, t)
            body = (
                x.groupBy("doc_id")
                .agg(F.array_join(F.transform(
                    F.sort_array(F.collect_list(
                        F.struct(F.col("row_idx"), F.col("xml"))
                    )),
                    lambda s: s.xml,
                ), "").alias("body"))
            )
            # one row per source document — bounded by the file count the
            # CLI was invoked on, not by data volume
            for r in body.collect():
                parent = compiled.parent_of.get(t, t)
                containers.setdefault(parent, []).append(r["body"])
        inner = "".join(
            body if p in compiled.specs or p == root
            else f"<{p}>{body}</{p}>"
            for p, bodies in containers.items()
            for body in ["".join(bodies)]
        )
        xmlns = (
            f' xmlns="{compiled.target_namespace}"'
            if compiled.target_namespace else ""
        )
        doc = f"<{root}{xmlns}>{inner}</{root}>"
        out_path = _os.path.join(args.output, f"{stem}.xml")
        with open(out_path, "w", encoding="utf-8") as fp:
            fp.write('<?xml version="1.0" encoding="UTF-8"?>' + doc)
        n_viol = validate_xml_instance(spark, out_path, compiled).count()
        if n_viol:
            tot_errors += n_viol
            print(f"{sdir} encoded to {out_path} with {n_viol} errors")
        else:
            print(f"{sdir} encoded to {out_path}")
    return tot_errors


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="sissaschool-xmlschema-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="run the constraint suite")
    v.add_argument("--spec", required=True, help="spec JSON path")
    v.add_argument("--input", required=True)
    v.add_argument("--format", default="parquet",
                   help="parquet|iceberg|table|...")
    v.add_argument("--output", default=None)
    v.add_argument("--checkpoint", default=None,
                   help="checkpoint dir → partitioned resumable run")
    v.add_argument("--partition-expr", default=None,
                   help="SQL expr for the checkpoint partition key")
    v.add_argument("--no-resume", action="store_true")
    v.add_argument("--exit-zero", action="store_true",
                   help="exit 0 even with violations (lax CI mode)")
    v.set_defaults(fn=cmd_validate)

    d = sub.add_parser("decode", help="typed decode (xml2json analogue)")
    d.add_argument("--spec", default=None)
    d.add_argument("--input", required=True)
    d.add_argument("--format", default="parquet")
    d.add_argument("--output", required=True)
    d.add_argument("--field", action="append", default=[],
                   help="name:dtype[:fmt], repeatable")
    d.add_argument("--json", action="store_true", help="write JSON not parquet")
    d.set_defaults(fn=cmd_decode)

    vx = sub.add_parser(
        "validate-xml",
        help="validate raw XML files against an XSD "
             "(xmlschema-validate analogue; exit status = error count)",
    )
    vx.add_argument("-v", dest="verbosity", action="count", default=0)
    vx.add_argument("--schema", required=True, help="path to an XSD schema")
    vx.add_argument("--version", default="1.0", choices=("1.0", "1.1"))
    vx.add_argument("files", nargs="+", metavar="XML_FILE")
    vx.set_defaults(fn=cmd_validate_xml)

    xj = sub.add_parser(
        "xml2jsonl",
        help="decode XML files to typed JSON Lines tables "
             "(xmlschema-xml2json analogue, document-per-line layout)",
    )
    xj.add_argument("--schema", required=True, help="path to an XSD schema")
    xj.add_argument("--version", default="1.0", choices=("1.0", "1.1"))
    xj.add_argument("-o", "--output", default=".", help="output directory")
    xj.add_argument("files", nargs="+", metavar="XML_FILE")
    xj.set_defaults(fn=cmd_xml2jsonl)

    jx = sub.add_parser(
        "json2xml",
        help="re-encode xml2jsonl output back to XML documents "
             "(xmlschema-json2xml analogue; re-validates each document)",
    )
    jx.add_argument("--schema", required=True, help="path to an XSD schema")
    jx.add_argument("--version", default="1.0", choices=("1.0", "1.1"))
    jx.add_argument("--root", default=None,
                    help="document root element (default: the schema's "
                         "single non-container global element)")
    jx.add_argument("--input", required=True,
                    help="xml2jsonl output directory")
    jx.add_argument("-o", "--output", default=".", help="output directory")
    jx.set_defaults(fn=cmd_json2xml)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
