"""End-to-end pretraining-data curation: quality + language gates composed
with the O(n) LSH dedup keep-list, all in ONE declarative plan.

This is the shape a 100 TB corpus job actually runs — not the individual
operators in isolation but their composition: scan → row-local gates →
minhash signatures over the survivors → bucket-minimum anti-join.  The gates
are integer/string predicates (token counts, marker-argmax language, integer
punctuation comparison) rather than float thresholds, so a SQL oracle
reproduces every keep/drop decision exactly — float quality scores stay
available as *reported* columns (operators/text.py quality_score), they just
don't gate.

Reference analogue: none (north-star training-data extension); the staged
compile-then-filter structure mirrors how validators.schemas.XMLSchemaBase
separates schema compilation from instance iteration (schemas.py:1386-1405).

Scale notes:

* The gates are pure Column expressions evaluated inside the scan's
  whole-stage codegen span — no shuffle is added by gating.  The gated
  subplan appears twice in the final plan (signature side + output side);
  that duplicates ONLY scan + row-local work, never a shuffle, which is the
  right trade at scale (recomputing a projection is bandwidth; persisting
  100 TB is storage).  Callers that prefer materialization can pass an
  already-filtered/persisted DataFrame and ``min_tokens=0, langs=None``.
* Dedup work is O(n·bands) regardless of duplicate density (see
  operators/dedup.py lsh_dedup_keep) — no pair enumeration anywhere.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.functions import text as T
from sissaschool_xmlschema_spark.operators import dedup


def pretraining_keep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    langs: Optional[Sequence[str]] = ("en",),
    k: int = 24,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """``(id, lang, n_tokens)`` of documents surviving the full pipeline.

    Gates (all engine-portable integer/string predicates):

    1. length — ``token_count(text) >= min_tokens``;
    2. language — marker-argmax :func:`~...functions.text.lang_id` ∈ langs;
       with ``langs=None`` the gate relaxes to ``lang != 'und'`` (SOME
       language's marker tokens present — the linguistic-content /
       boilerplate cut, language-agnostic by construction);
    3. punctuation — ``2 · punct_chars < chars`` (the integer form of
       ``punct_ratio < 0.5`` — no float division to diverge cross-engine).

    Survivors are deduplicated with the greedy LSH keep-list: a document is
    dropped iff one of its band buckets contains a smaller surviving id.
    Dedup runs AFTER the gates — a near-dup of a *rejected* document is not
    dropped for that reason (the rejected doc isn't in the corpus), matching
    how curation pipelines sequence filtering before dedup.
    """
    t = F.col(text_col)
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    lang = T.lang_id(t)
    cond = (T.token_count(t) >= min_tokens) & (
        n_punct * 2 < F.length(t)
    )
    if langs is not None:
        cond = cond & lang.isin(list(langs))
    else:
        cond = cond & (lang != "und")
    gated = df.select(
        F.col(id_col).alias("id"),
        t.alias("_text"),
        T.lang_id(t).alias("lang"),
        T.token_count(t).alias("n_tokens"),
    ).filter(cond)

    sigs = dedup.minhash_signatures(gated, "id", "_text", k, seed)
    buckets = dedup.band_buckets(sigs, k, bands)
    mins = buckets.groupBy("band", "bkey").agg(F.min("id").alias("_min_id"))
    dropped = (
        buckets.join(mins, ["band", "bkey"])
        .filter(F.col("id") > F.col("_min_id"))
        .select("id")
        .distinct()
    )
    return gated.select("id", "lang", "n_tokens").join(
        dropped, "id", "left_anti"
    )
