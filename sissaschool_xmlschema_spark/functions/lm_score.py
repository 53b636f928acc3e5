"""Unigram language-model quality scoring (KenLM-style quality filter,
reduced to the unigram case so it stays exactly SQL-replicable).

Pretraining pipelines score documents by mean token log-probability under a
corpus LM and gate on thresholds/quantiles.  The distributed shape:

1. ``train_unigram_lm`` — explode whitespace tokens, one map-side-combined
   ``groupBy`` for counts, deterministic top-``vocab_size`` (count desc,
   token asc → ``TakeOrderedAndProject``), add-α smoothing.  The trained
   model is a ≤``vocab_size``-row DataFrame — broadcastable by construction.
2. ``lm_quality`` — explode document tokens, broadcast-join the vocab,
   ``coalesce`` to the OOV log-probability, one ``groupBy(doc)`` average.

Everything is built-in Column algebra (no Python in the hot path); scores
are rounded to 6 dp so the double-summation order can't perturb the oracle
hash.  The reference analogue is facet-style per-value scoring feeding a
verdict (``validators/facets.py`` predicates); the LM score is the
pipeline-side generalization this engine adds.
"""
from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str):
    """Lower-cased single-space tokens — the corpus convention shared with
    the DuckDB oracles (``string_split(lower(text), ' ')``)."""
    return F.split(F.lower(F.col(text_col)), " ")


def train_unigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 10_000,
    alpha: float = 0.5,
) -> Tuple[DataFrame, float]:
    """Train the smoothed unigram LM over ``df[text_col]``.

    Returns ``(vocab_df, oov_logp)`` where ``vocab_df`` has columns
    ``(tok, logp)`` (≤ ``vocab_size`` rows, deterministic tie-break by
    token) and ``oov_logp`` is the add-α probability mass for any token
    outside the vocabulary.  ``N`` in the denominator is the TOTAL corpus
    token count (vocab and non-vocab alike), so scores are comparable
    across vocab sizes.
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    if alpha <= 0:
        raise ValueError("alpha must be positive")

    counts = (
        df.select(F.explode(_tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_total = counts.agg(F.sum("c")).first()[0] or 0
    denom = float(n_total) + alpha * (vocab_size + 1)
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok", F.log((F.col("c") + alpha) / F.lit(denom)).alias("logp"))
    )
    import math

    return vocab, math.log(alpha / denom)


def lm_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    oov_logp: float,
) -> DataFrame:
    """Per-document mean token log-probability under a trained unigram LM.

    Returns ``(id_col, n_tokens, avg_logp)`` with ``avg_logp`` rounded to
    6 dp.  The vocab join is an explicit broadcast (≤ vocab_size rows).
    """
    toks = df.select(id_col, F.explode(_tokens(text_col)).alias("tok"))
    scored = toks.join(F.broadcast(vocab), "tok", "left").select(
        id_col, F.coalesce("logp", F.lit(oov_logp)).alias("logp")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
    )


# --- bigram extension --------------------------------------------------------
#
# Conditional scoring P(w | prev) with add-α smoothing over a closed top-K
# vocabulary (OOV → '<unk>') and a capped bigram table with per-context
# backoff.  The distributed shape stays broadcast-only:
#
#   pairs        row-local array transform (prev = tokens[i-1], BOS '<s>');
#                zero shuffle to build, one explode to score
#   vocab map    two broadcast joins (prev side, cur side) → '<unk>'
#   model        bigram table ≤ bigram_size rows + context table ≤ V+2 rows,
#                both broadcast; unseen bigrams coalesce to the context's
#                backoff mass, unseen contexts to the global floor
#
# Still exactly SQL-replicable (lag window over unnested tokens in DuckDB),
# so the driver query hash-matches — the same property the unigram model has.


def _pair_df(df: DataFrame, text_col: str, id_col=None) -> DataFrame:
    """(prev, cur) bigram pairs (plus ``id_col`` when given), built
    row-locally: transform over the token array with its index — zero
    shuffle, no Python.  Position 0 pairs with the BOS marker '<s>'."""
    head = [id_col] if id_col else []
    tk = df.select(*head, _tokens(text_col).alias("tk"))
    pairs = F.expr(
        "transform(tk, (x, i) -> struct("
        "if(i = 0, '<s>', element_at(tk, i)) AS prev, x AS cur))"
    )
    return tk.select(*head, F.explode(pairs).alias("p")).select(
        *head, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )


def _map_unk(pairs: DataFrame, vocab_toks: DataFrame, col: str) -> DataFrame:
    """Broadcast-join OOV mapping: ``col`` → itself if in vocab else '<unk>'
    ('<s>' is always kept as a context)."""
    v = vocab_toks.select(F.col("tok").alias(f"_v_{col}"))
    joined = pairs.join(
        F.broadcast(v), pairs[col] == F.col(f"_v_{col}"), "left"
    )
    mapped = F.when(
        (F.col(f"_v_{col}").isNotNull()) | (F.col(col) == F.lit("<s>")),
        F.col(col),
    ).otherwise(F.lit("<unk>"))
    return joined.withColumn(col, mapped).drop(f"_v_{col}")


def train_bigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 1_000,
    bigram_size: int = 10_000,
    alpha: float = 0.5,
):
    """Train the smoothed bigram LM.  Returns ``(bigrams, contexts,
    floor_logp)``:

    * ``bigrams`` — ``(prev, cur, logp2)``: top-``bigram_size`` pairs by
      count (deterministic tie-break prev asc, cur asc) with
      ``logp2 = log((c(prev,cur)+α) / (c(prev)+α·(V+2)))``
    * ``contexts`` — ``(prev, backoff_logp)``: the same denominator with a
      zero numerator count — the mass any UNSEEN pair with this context
      gets (V+2 = vocab + '<unk>' + '<s>')
    * ``floor_logp`` — global fallback for contexts never seen in training

    Also returns the ``vocab_toks`` frame the scorer must reuse for the
    same OOV mapping: ``(vocab_toks, bigrams, contexts, floor_logp)``.
    All model frames are bounded by construction (≤ vocab_size,
    ≤ bigram_size, ≤ V+2 rows) — broadcastable regardless of corpus size.
    Training is two map-side-combined groupBys over the pair stream; the
    raw corpus is exploded once.
    """
    if bigram_size <= 0:
        raise ValueError("bigram_size must be positive")
    import math

    vocab, _ = train_unigram_lm(df, text_col, vocab_size, alpha)
    vocab_toks = vocab.select("tok")
    v_actual = vocab_toks.count()  # ≤ vocab_size; O(1) result
    v_classes = v_actual + 2  # + '<unk>' + '<s>'

    pairs = _map_unk(
        _map_unk(_pair_df(df, text_col), vocab_toks, "prev"),
        vocab_toks,
        "cur",
    )
    ctx_counts = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("c1"))
    big_counts = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
        .orderBy(F.desc("c2"), F.asc("prev"), F.asc("cur"))
        .limit(bigram_size)
    )
    denom = F.col("c1") + F.lit(alpha * v_classes)
    bigrams = (
        big_counts.join(F.broadcast(ctx_counts), "prev")
        .select(
            "prev",
            "cur",
            F.log((F.col("c2") + F.lit(alpha)) / denom).alias("logp2"),
        )
    )
    contexts = ctx_counts.select(
        "prev", F.log(F.lit(alpha) / denom).alias("backoff_logp")
    )
    floor_logp = math.log(1.0 / v_classes)
    return vocab_toks, bigrams, contexts, floor_logp


def lm_quality_bigram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_toks: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    floor_logp: float,
) -> DataFrame:
    """Per-document mean bigram log-probability under a trained bigram LM.

    Returns ``(id_col, n_bigrams, avg_logp2)`` (rounded to 6 dp).  The
    plan is explode → three broadcast hash joins (vocab map ×2 folds into
    one pass each, model tables) → one groupBy(doc) with map-side partial
    average — the shuffle carries one partial row per (doc, partition),
    never one row per token."""
    pairs = _map_unk(
        _map_unk(_pair_df(df, text_col, id_col), vocab_toks, "prev"),
        vocab_toks,
        "cur",
    )
    scored = (
        pairs.join(F.broadcast(bigrams), ["prev", "cur"], "left")
        .join(F.broadcast(contexts), ["prev"], "left")
        .select(
            id_col,
            F.coalesce(
                "logp2", "backoff_logp", F.lit(floor_logp)
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logp2"),
    )
