"""Training-corpus curation beyond dedup: decontamination, repetition and
PII quality signals, and domain-mixture accounting.

These are the remaining first-class stages of a pretraining-data pipeline
(GPT-3 appendix C / Gopher §A1.1 / C4 are the published recipes):

* **decontamination** — drop corpus documents that share a token n-gram with
  a held-out benchmark/eval set, so test data never leaks into training;
* **repetition metrics** — within-document duplicate token/n-gram counts
  (Gopher's "repetition" quality signals) as integer columns;
* **PII scan/redaction** — email / IPv4 / phone detection counts and a
  redaction transform, all JVM-side ``regexp_*`` (no Python in the row path);
* **mixture weights + stratified sampling** — per-(lang, source) token
  accounting and a deterministic hash-gated sampler, the mechanism behind
  domain-mixing a 100 TB corpus down to a token budget.

Reference analogue: none (north-star training-data extension); the
plant-then-check test strategy mirrors how the reference's test suite plants
invalid values and asserts the exact violation rows
(validators/schemas.py:1386-1405 iter_errors contract).

Scale notes:

* Decontamination joins the 100 TB corpus against the *benchmark* gram set —
  eval suites are 10^4-10^7 grams, so the gram relation is broadcast and the
  corpus side is never shuffled; the only shuffle is the per-doc hit count
  (map-side partial aggregation on the scan partitioning).  ``hash_grams``
  narrows the broadcast rows to 8-byte longs (xxhash64) — identical output
  modulo astronomically-unlikely 64-bit collisions.
* Repetition metrics are row-local Column expressions (zero shuffle).  The
  top-n-gram count uses explode + two partial-agg groupBys rather than an
  O(len^2) per-row array scan, so a 10^5-token document costs 10^5 rows,
  not 10^10 comparisons.
* The sampler gates on ``md5(seed|id) mod 10^6 < ppm``: deterministic,
  seedable, no RNG state, reproducible across retries/partitions — the property a resumable 100 TB
  job needs (rand() is NOT stable across task retries).
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.functions import text as T

# Detection patterns — kept inside the common subset of Java regex (Spark)
# and RE2 (DuckDB, Go, Rust): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d ()-]{6,}\d"


# ---------------------------------------------------------------------------
# token n-grams


def token_ngrams(text: Column, n: int) -> Column:
    """``array<string>`` of space-joined token ``n``-grams of ``text``.

    Tokenization is a single-space split of the lowercased text (the corpus
    contract used by every text operator here — parity with the SQL oracle's
    ``string_split``).  Documents shorter than ``n`` tokens yield an empty
    array (``F.sequence`` would otherwise produce a *descending* range and
    fabricate grams).
    """
    if n < 1:
        raise ValueError("n-gram width must be >= 1")
    toks = F.split(F.lower(text), " ")
    k = F.size(toks) - (n - 1)
    return F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# decontamination


def _gram_relation(
    df: DataFrame, text_col: str, n: int, hash_grams: bool,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Distinct ``(id?, g)`` gram relation of ``df``.

    With ``id_col`` the grams are distinct *per document* (array_distinct
    before the explode — dedup happens in the array, no extra shuffle);
    without it the relation is the globally-distinct gram set.
    """
    grams = F.array_distinct(token_ngrams(F.col(text_col), n))
    g = F.explode(grams).alias("g")
    if id_col is not None:
        rel = df.select(F.col(id_col), g)
    else:
        rel = df.select(g).distinct()
    if hash_grams:
        rel = rel.withColumn("g", F.xxhash64("g"))
    return rel


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    hash_grams: bool = False,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """``(id_col, n_hits)`` — corpus docs sharing >= 1 token ``n``-gram with
    any benchmark document; ``n_hits`` counts the distinct shared grams.

    The GPT-3-style leakage check: the benchmark gram set is broadcast (eval
    suites are small next to the corpus), the corpus explodes its per-doc
    distinct grams and semi-joins — map-side only — then one partial-agg
    groupBy produces the per-doc hit count.  ``hash_grams`` ships 8-byte
    longs instead of gram strings (same result barring 64-bit collisions).
    """
    bench = _gram_relation(benchmark, text_col, n, hash_grams)
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    grams = _gram_relation(corpus, text_col, n, hash_grams, id_col=id_col)
    return (
        grams.join(bench, "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus rows with NO benchmark n-gram overlap (the production output).

    Anti-join at the *gram* level: a doc survives iff none of its grams is a
    benchmark gram.  Corpus rows shorter than ``n`` tokens have no grams and
    always survive (nothing to leak)."""
    bench = F.broadcast(_gram_relation(benchmark, text_col, n, hash_grams))
    hits = (
        _gram_relation(corpus, text_col, n, hash_grams, id_col=id_col)
        .join(bench, "g")
        .select(id_col)
        .distinct()
    )
    return corpus.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# repetition quality signals (Gopher §A1.1 analogues, integer form)


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str, gram_n: int = 5
) -> DataFrame:
    """Row-local repetition counts per document (zero shuffle).

    ``n_dup_token``   tokens beyond each first occurrence;
    ``n_gram``        total ``gram_n``-grams;
    ``n_dup_gram``    grams beyond each first occurrence — the integer
                      numerator of Gopher's duplicate-n-gram fraction.
    Integer counts, not float fractions: cross-engine exact, and the caller
    picks the denominator policy.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    grams = token_ngrams(F.col(text_col), gram_n)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(F.array_distinct(toks)))
        .cast("long")
        .alias("n_dup_token"),
        F.size(grams).cast("long").alias("n_gram"),
        (F.size(grams) - F.size(F.array_distinct(grams)))
        .cast("long")
        .alias("n_dup_gram"),
    )


def top_ngram_counts(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """``(id_col, top_n)`` — occurrences of the most frequent token n-gram.

    Explode + two partial-agg groupBys (per-(doc, gram) count, then per-doc
    max): linear in document length, unlike the O(len^2) per-row
    distinct×filter array scan — the shape that still works on a 10^5-token
    document.  Docs with no grams (shorter than ``n`` tokens) are absent.
    """
    grams = token_ngrams(F.col(text_col), n)
    return (
        df.select(F.col(id_col), F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").cast("long").alias("top_n"))
    )


# ---------------------------------------------------------------------------
# span-level exact dedup (C4-style)


def _doc_spans(text: Column, width: int) -> Column:
    """Non-overlapping ``width``-token windows of the lowercased text.

    The trailing span may be shorter; docs shorter than ``width`` yield one
    span (themselves) — a doc never silently vanishes at tokenize time.
    """
    toks = F.split(F.lower(text), " ")
    n = (F.size(toks) + (width - 1)) / width  # ceil, int division below
    return F.transform(
        F.sequence(F.lit(0), n.cast("int") - 1),
        lambda j: F.concat_ws(" ", F.slice(toks, j * width + 1, width)),
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 3,
    hash_spans: bool = False,
) -> DataFrame:
    """Corpus-wide exact span dedup (the C4 recipe, token-window form):
    every occurrence of a duplicated span is removed EXCEPT the first
    (first = smallest ``(doc_id, pos)``), and each document's text is
    rebuilt from its surviving spans in order.

    Returns ``(id_col, n_spans, n_kept, clean_text)``; documents whose every
    span was seen earlier elsewhere drop out entirely.

    ``hash_spans=True`` is the 100 TB shape: only ``(xxhash64(span), id,
    pos)`` tuples ever shuffle — span *text* never leaves its scan; surviving
    positions join back to the original row and the text is rebuilt
    row-locally by re-slicing.  Output is identical to the string-key
    flavor barring 64-bit hash collisions (the hash is key-only, never an
    output column).
    """
    spans = _doc_spans(F.col(text_col), width)
    sp = df.select(
        F.col(id_col),
        F.posexplode(spans).alias("pos", "span"),
    )
    key = F.xxhash64("span") if hash_spans else F.col("span")
    keyed = sp.select(id_col, "pos", key.alias("k"))
    firsts = keyed.groupBy("k").agg(
        F.min(F.struct(id_col, "pos")).alias("first")
    )
    kept = (
        keyed.join(firsts, "k")
        .filter(
            (F.col(id_col) == F.col(f"first.{id_col}"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select(id_col, "pos")
    )
    kept_pos = kept.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("poss"),
        F.count("*").cast("long").alias("n_kept"),
    )
    toks = F.split(F.lower(F.col(text_col)), " ")
    rebuild = F.concat_ws(
        " ",
        F.transform(
            F.col("poss"),
            lambda j: F.concat_ws(
                " ", F.slice(toks, j * width + 1, width)
            ),
        ),
    )
    return df.join(kept_pos, id_col).select(
        F.col(id_col),
        F.size(spans).cast("long").alias("n_spans"),
        F.col("n_kept"),
        rebuild.alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# PII scan / redaction


def pii_counts(text: Column) -> Mapping[str, Column]:
    """Per-row detection counts, all JVM-side ``regexp_count``."""
    return {
        "n_email": F.regexp_count(text, F.lit(EMAIL_RE)).cast("long"),
        "n_ipv4": F.regexp_count(text, F.lit(IPV4_RE)).cast("long"),
        "n_phone": F.regexp_count(text, F.lit(PHONE_RE)).cast("long"),
    }


def redact_pii(text: Column) -> Column:
    """Replace detected spans with typed placeholders.

    Email first (its local part may contain digits a later pattern would
    split), then IPv4 (so the phone pattern cannot eat dotted quads), then
    phone.
    """
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_email, n_ipv4, n_phone, redacted_len)`` per document."""
    t = F.col(text_col)
    counts = pii_counts(t)
    return df.select(
        F.col(id_col),
        counts["n_email"].alias("n_email"),
        counts["n_ipv4"].alias("n_ipv4"),
        counts["n_phone"].alias("n_phone"),
        F.length(redact_pii(t)).cast("long").alias("redacted_len"),
    )


# ---------------------------------------------------------------------------
# domain mixture + deterministic stratified sampling


def mixture_weights(
    df: DataFrame, strata: Sequence[str], text_col: str
) -> DataFrame:
    """Per-stratum corpus accounting: ``(*strata, n_docs, n_tokens)``.

    The input to any domain-mixing decision (sampling weights are a policy
    over these integers, not part of the engine).  One partial-agg groupBy.
    """
    return df.groupBy(*strata).agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col(text_col))).cast("long").alias("n_tokens"),
    )


def sample_ppm(id_col: Column, seed: int = 42) -> Column:
    """Deterministic per-id sample coordinate in ``[0, 10^6)``.

    Decodes the first 8 hex chars of ``md5(seed|id)`` (32 uniform bits —
    DuckDB reproduces them with strpos hex arithmetic).  The gate is a pure
    function of (seed, id): task retries, resumes and re-runs keep the SAME
    sample, which ``F.rand()`` does not guarantee.
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), id_col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(1_000_000))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_ppm: Mapping[str, int],
    default_ppm: int = 0,
    seed: int = 42,
) -> DataFrame:
    """Rows kept by per-stratum deterministic rates (parts per million).

    ``rates_ppm`` maps stratum value -> keep rate; unlisted strata use
    ``default_ppm``.  The rate lookup compiles to a CASE expression and the
    gate to one hash comparison — row-local, zero shuffle, reproducible.
    """
    ppm = sample_ppm(F.col(id_col), seed=seed)
    rate: Column = F.lit(default_ppm)
    for value, r in sorted(rates_ppm.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(int(r))).otherwise(rate)
    return df.filter(ppm < rate)


def sample_exact_k(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum, deterministically.

    Rate-based sampling (:func:`stratified_sample`) keeps a *proportion* —
    the right tool at corpus scale but the count per stratum is binomial.
    Benchmark curation often needs an exact quota ("1000 eval docs per
    language"); this ranks each stratum by the same deterministic per-id
    hash coordinate (ties broken by id — total order, so retries and
    resumes return the SAME rows) and keeps the first ``k``.

    Plan: one window over ``partitionBy(stratum)`` — a single hash
    exchange on the stratum key.  Skew note: a stratum's rows land on one
    task, so this is for quota-sized outputs (k ≪ stratum); for heavy
    strata pre-filter with :func:`stratified_sample` at a few× the quota
    rate first (two-phase: cheap row-local gate, then the exact window on
    the survivors), which keeps the window input O(k) per stratum.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(
            sample_ppm(F.col(id_col), seed=seed).asc(),
            F.col(id_col).asc(),
        )
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mixture_plan(
    df: DataFrame,
    stratum_col: str,
    text_col: str,
    target_weights: Mapping[str, float],
    budget_tokens: int,
) -> DataFrame:
    """Token-budget mixture planning: per-stratum deterministic keep rates.

    Given target mixture proportions (e.g. the published data-mixture
    weights of a pretraining run) and a total token budget, compute the
    per-stratum ppm rate that hits each stratum's share of the budget:
    ``rate = min(1, budget·w / stratum_tokens)`` — a stratum too small for
    its target share is taken whole (rate capped at 10^6 ppm; the plan
    EXPOSES the shortfall instead of silently re-normalizing, because
    re-weighting policy belongs to the caller).

    One groupBy over the corpus (token accounting), then row-local
    arithmetic on the tiny per-stratum frame.  Returns
    ``(stratum, n_docs, n_tokens, target_ppm, expected_tokens)`` where
    ``expected_tokens = floor(n_tokens · rate / 10^6)``.  Feed the plan to
    :func:`mixture_apply` (or a CASE into :func:`stratified_sample`).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    acc = mixture_weights(df, (stratum_col,), text_col)
    w: Column = F.lit(None).cast("double")
    for value, wt in sorted(target_weights.items()):
        w = F.when(F.col(stratum_col) == value, F.lit(float(wt))).otherwise(w)
    # guard on w's nullity FIRST: least()/greatest() skip nulls in Spark,
    # so least(10^6, NULL) would silently take an unlisted stratum whole
    rate = F.when(
        w.isNotNull(),
        F.least(
            F.lit(1_000_000),
            F.floor(
                F.lit(float(budget_tokens)) * w / F.col("n_tokens") * 1e6
            ),
        ),
    )
    return acc.select(
        stratum_col,
        "n_docs",
        "n_tokens",
        F.coalesce(rate, F.lit(0)).cast("long").alias("target_ppm"),
        F.floor(
            F.col("n_tokens") * F.coalesce(rate, F.lit(0)) / F.lit(1e6)
        ).cast("long").alias("expected_tokens"),
    )


def mixture_apply(
    df: DataFrame,
    plan: DataFrame,
    id_col: str,
    stratum_col: str,
    seed: int = 42,
) -> DataFrame:
    """Apply a :func:`mixture_plan`: keep rows whose deterministic sample
    coordinate clears their stratum's planned rate.  The plan (one row per
    stratum) broadcasts; the gate is one hash comparison — row-local,
    retry-stable, zero extra shuffle."""
    rates = plan.select(stratum_col, "target_ppm")
    return (
        df.join(F.broadcast(rates), stratum_col, "left")
        .filter(
            sample_ppm(F.col(id_col), seed=seed)
            < F.coalesce(F.col("target_ppm"), F.lit(0))
        )
        .drop("target_ppm")
    )
