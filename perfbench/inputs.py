"""Benchmark inputs: generation, the on-disk cache, and the independent oracle.

Transcript tables come from the engine's own load generator
(``sources.transcripts.synthetic_transcripts`` + ``corrupt_transcripts``), with
the hot conversations sized to a stated minority of the turns.  Tables are
written once per (layout, seed, size) under ``perfbench/.cache`` and reused by
later runs with the same key; the cache keeps only the newest few entries.

The oracle recomputes every per-constraint violation count of
``spec.transcript_spec()`` in DuckDB over the same parquet files, so the Spark
results are checked against a second engine, not against themselves.

XML documents are rendered here, in Python, with a known number of planted
errors each; ``transcript.xsd`` beside this file is their schema.
"""

from __future__ import annotations

import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
XSD_PATH = os.path.join(HERE, "transcript.xsd")
KEEP_ENTRIES = 6
# plain-table files, buckets and shuffle partitions alike
PARTITIONS = 8

# Mean turns of a non-hot conversation: synthetic_transcripts draws 5 + (h mod 41).
MEAN_CONV_TURNS = 25
HOT_CONVS = 3
HOT_SHARE = 0.03


def hot_turns_for(n_convs: int) -> int:
    """Turns per hot conversation so the 3 hot ones hold ~HOT_SHARE of all."""
    cold = MEAN_CONV_TURNS * (n_convs - HOT_CONVS)
    return max(1, round(HOT_SHARE / (1 - HOT_SHARE) * cold / HOT_CONVS))


def _entry(name: str) -> str:
    return os.path.join(CACHE_DIR, "data", name)


def _prune_cache() -> None:
    root = os.path.join(CACHE_DIR, "data")
    entries = sorted(
        (os.path.getmtime(os.path.join(root, e)), e) for e in os.listdir(root)
    )
    for _, e in entries[:-KEEP_ENTRIES]:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)


def _cached(name: str, build) -> str:
    """Build ``name`` once via ``build(tmp_path)``; publish it atomically."""
    path = _entry(name)
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _prune_cache()
    return path


def transcripts(spark, n_convs: int, seed: int, every: int):
    from sissaschool_xmlschema_spark.sources.transcripts import (
        corrupt_transcripts,
        synthetic_transcripts,
    )

    clean = synthetic_transcripts(
        spark, n_convs=n_convs, seed=seed, hot_convs=HOT_CONVS,
        hot_turns=hot_turns_for(n_convs),
    )
    return corrupt_transcripts(clean, every=every, seed=seed)


def plain_table(spark, n_convs: int, seed: int, every: int, files: int) -> str:
    """Plain parquet, rows spread round-robin over ``files`` files."""

    def build(tmp):
        df = transcripts(spark, n_convs, seed, every)
        df.repartition(files).write.parquet(os.path.join(tmp, "t"))

    return os.path.join(
        _cached(f"plain-s{seed}-c{n_convs}-e{every}-f{files}", build), "t"
    )


def bucketed_table(spark, n_convs: int, seed: int, every: int, buckets: int,
                   parts: int = 0) -> str:
    """Bucketed by conv_id and write-sorted by (conv_id, turn_idx), so the
    per-conversation checks need no exchange.  With ``parts`` > 0 the table
    is also Hive-partitioned by ``part = pmod(hash(conv_id), parts)``, so a
    partition filter prunes to that partition's files.  Returns the table
    location; register it with :func:`register_bucketed`."""
    from pyspark.sql import functions as F

    def build(tmp):
        df = transcripts(spark, n_convs, seed, every)
        w = df.repartition(buckets, "conv_id").write
        if parts:
            df = df.withColumn("part", F.expr(f"pmod(hash(conv_id), {parts})"))
            w = df.repartition(parts, "part").write.partitionBy("part")
        name = f"_pb_build_{os.getpid()}"
        (
            w.bucketBy(buckets, "conv_id").sortBy("conv_id", "turn_idx")
            .option("path", os.path.join(tmp, "t")).saveAsTable(name)
        )
        spark.sql(f"DROP TABLE {name}")  # external: the files stay

    key = f"bucketed-s{seed}-c{n_convs}-e{every}-b{buckets}-p{parts}"
    return os.path.join(_cached(key, build), "t")


def register_bucketed(spark, name: str, location: str, buckets: int,
                      partitioned: bool = False):
    """(Re-)register a table written by :func:`bucketed_table`."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"""CREATE TABLE {name} (
          conv_id string, turn_idx int, role string, text string,
          tool string, ts timestamp{", part int" if partitioned else ""})
        USING PARQUET
        {"PARTITIONED BY (part)" if partitioned else ""}
        CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx)
        INTO {buckets} BUCKETS
        LOCATION '{location}'"""
    )
    if partitioned:
        spark.catalog.recoverPartitions(name)
    return spark.table(name)


# --- DuckDB oracle for spec.transcript_spec() ------------------------------
#
# Each branch mirrors one compiled check with Spark's NULL semantics: a check
# whose predicate is NULL reports nothing, so every branch selects rows where
# NOT(ok) is TRUE.  Window checks order by turn_idx alone, as the spec does.

_ORACLE_SQL = """
WITH t AS (SELECT *, {part} AS _part FROM read_parquet('{glob}'{opts})),
o AS (
  SELECT *, lag(turn_idx) OVER w AS p_idx, lag(ts) OVER w AS p_ts,
         lag(role) OVER w AS p_role
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
v AS (
  SELECT _part, 'facet:conv_id:Required' AS c FROM t WHERE conv_id IS NULL
  UNION ALL SELECT _part, 'facet:conv_id:Pattern' FROM t
    WHERE NOT regexp_full_match(conv_id, 'conv-[0-9]{{8}}')
  UNION ALL SELECT _part, 'facet:turn_idx:Required' FROM t
    WHERE turn_idx IS NULL
  UNION ALL SELECT _part, 'facet:turn_idx:MinInclusive' FROM t
    WHERE turn_idx < 0
  UNION ALL SELECT _part, 'facet:role:Required' FROM t WHERE role IS NULL
  UNION ALL SELECT _part, 'facet:role:Enumeration' FROM t
    WHERE role NOT IN ('system', 'user', 'assistant', 'tool')
  UNION ALL SELECT _part, 'facet:text:Required' FROM t WHERE text IS NULL
  UNION ALL SELECT _part, 'facet:text:MinLength' FROM t WHERE length(text) < 1
  UNION ALL SELECT _part, 'facet:text:MaxLength' FROM t
    WHERE length(text) > 65536
  UNION ALL SELECT _part, 'facet:tool:Pattern' FROM t
    WHERE NOT regexp_full_match(tool, 'tool-[0-9]{{3}}')
  UNION ALL SELECT _part, 'facet:tool:Required' FROM t
    WHERE role = 'tool' AND tool IS NULL
  UNION ALL SELECT _part, 'facet:ts:Required' FROM t WHERE ts IS NULL
  UNION ALL SELECT any_value(_part), 'key:turn-key' FROM t
    WHERE turn_idx IS NOT NULL GROUP BY conv_id, turn_idx HAVING count(*) > 1
  UNION ALL SELECT _part, 'key:turn-key:missing-field' FROM t
    WHERE turn_idx IS NULL
  UNION ALL SELECT any_value(_part), 'keyref:tool-ref' FROM t
    WHERE tool IS NOT NULL GROUP BY conv_id, tool
    HAVING sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) > 0
       AND sum(CASE WHEN role = 'assistant' AND tool IS NOT NULL
                    THEN 1 ELSE 0 END) = 0
  UNION ALL SELECT any_value(_part), 'occurs:min-one-user' FROM t
    GROUP BY conv_id
    HAVING sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) < 1
  UNION ALL SELECT _part, 'model:turn-contiguity' FROM o
    WHERE NOT (CASE WHEN p_idx IS NULL THEN turn_idx = 0
                    ELSE turn_idx = p_idx + 1 END)
  UNION ALL SELECT _part, 'model:ts-monotone' FROM o
    WHERE NOT (p_ts IS NULL OR ts >= p_ts)
  UNION ALL SELECT _part, 'model:first-is-system-or-user' FROM o
    WHERE NOT (p_idx IS NOT NULL OR role IN ('system', 'user'))
  UNION ALL SELECT _part, 'model:role-transitions' FROM o
    WHERE NOT (
      (p_role <> 'system' OR p_role IS NULL OR role IN ('user'))
      AND (p_role <> 'user' OR p_role IS NULL OR role IN ('assistant'))
      AND (p_role <> 'assistant' OR p_role IS NULL
           OR role IN ('user', 'assistant', 'tool'))
      AND (p_role <> 'tool' OR p_role IS NULL OR role IN ('assistant', 'tool'))
      AND (p_role IS NOT NULL OR role IN ('system', 'user'))
    )
)
SELECT _part, c, count(*) FROM v GROUP BY _part, c
"""


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(CACHE_DIR, 'duckdb')}'")
    return con


def _glob(table_dir: str) -> str:
    return os.path.join(table_dir, "**", "*.parquet")


def count_rows(table_dir: str) -> int:
    with _duckdb() as con:
        sql = f"SELECT count(*) FROM read_parquet('{_glob(table_dir)}')"
        return con.execute(sql).fetchone()[0]


def oracle_counts(table_dir: str, partitioned: bool = False) -> dict:
    """``{(part, constraint_id): n}`` from DuckDB over the parquet files
    (part is 0 for an unpartitioned table)."""
    sql = _ORACLE_SQL.format(
        glob=_glob(table_dir),
        opts=", hive_partitioning = true" if partitioned else "",
        part="CAST(part AS INTEGER)" if partitioned else "0",
    )
    with _duckdb() as con:
        return {(p, c): n for p, c, n in con.execute(sql).fetchall()}


def by_constraint(counts: dict) -> dict:
    out: dict = {}
    for (_, c), n in counts.items():
        out[c] = out.get(c, 0) + n
    return out


def by_part(counts: dict) -> dict:
    out: dict = {}
    for (p, _), n in counts.items():
        out[p] = out.get(p, 0) + n
    return out


# --- XML documents ---------------------------------------------------------

ROLES = ("user", "assistant", "tool", "assistant")
SPEAKERS = 3
# Each planted error yields exactly one violation row.
ERROR_KINDS = ("role", "tool", "speaker", "dup-idx", "empty-text")


def render_doc(rng: random.Random, n_turns: int, n_errors: int) -> str:
    """One transcript document with ``n_errors`` distinct planted errors."""
    kinds = rng.sample(ERROR_KINDS, n_errors)
    # planted rows sit on distinct turns, each a tool turn (idx % 4 == 3) so
    # the tool-pattern error has a tool element to break
    slots = rng.sample(range(3, n_turns, 4), n_errors)
    plant = dict(zip(slots, kinds))
    out = ['<?xml version="1.0" encoding="UTF-8"?>', "<transcript>"]
    for s in range(SPEAKERS):
        out.append(f'  <speaker id="s{s}"><name>speaker {s}</name></speaker>')
    for i in range(n_turns):
        kind = plant.get(i)
        role = ROLES[(i - 1) % 4] if i else "system"
        idx = i - 1 if kind == "dup-idx" else i
        speaker = f"ghost{i}" if kind == "speaker" else f"s{i % SPEAKERS}"
        text = "" if kind == "empty-text" else (
            f"turn {i} lorem ipsum #{rng.randrange(99991)}"
        )
        tool = ""
        if role == "tool":
            tid = "TOOL_x" if kind == "tool" else f"tool-{rng.randrange(1000):03d}"
            tool = f"<tool>{tid}</tool>"
        if kind == "role":
            role = "alien"
        out.append(
            f'  <turn idx="{idx}" speaker="{speaker}"><role>{role}</role>'
            f"<text>{text}</text>{tool}</turn>"
        )
    out.append("</transcript>")
    return "\n".join(out) + "\n"


def xml_docs(seed: int, n_turns: int, n_docs: int) -> list:
    """``[(path, n_turns, n_planted)]``: ``n_docs`` documents of ``n_turns``
    turns, each with 0..4 planted errors fixed by ``seed``."""

    def build(tmp):
        os.makedirs(tmp)
        rng = random.Random(seed)
        lines = []
        for i in range(n_docs):
            n_err = rng.randrange(len(ERROR_KINDS))
            name = f"doc{i:03d}.xml"
            with open(os.path.join(tmp, name), "w") as f:
                f.write(render_doc(rng, n_turns, n_err))
            lines.append(f"{name} {n_turns} {n_err}\n")
        with open(os.path.join(tmp, "index.txt"), "w") as f:
            f.writelines(lines)

    path = _cached(f"xml-s{seed}-n{n_docs}-t{n_turns}", build)
    with open(os.path.join(path, "index.txt")) as f:
        rows = [line.split() for line in f]
    return [(os.path.join(path, n), int(t), int(e)) for n, t, e in rows]

